package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // data-derived shuffle-partition floor: identical to the plain
    // core-count session at sf<=0.1, but a 100x ScaleProbe dir
    // derives the partition count whose absence caused the r12
    // AGGREGATE_OUT_OF_MEMORY (see Sessions.derivedShufflePartitions)
    val spark = Sessions.localSized("graft-bench", cpus, sfDir)
    // Warm up the JVM/codegen and the parquet reader paths so the first
    // measured query doesn't absorb session startup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

    // Two passes, min per query: the first pass absorbs per-plan codegen
    // compilation; min approximates steady-state throughput.
    // optional args: query names to bench (default: all) — dev loop aid.
    // Unknown names fail loudly: an empty filter would print a
    // success-looking zero-total line (the invisible-failure mode the
    // -1 sentinel exists to prevent).
    val wanted = args.toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // snapshot persisted-RDD ids BEFORE the query: only blocks this
      // query created are released afterwards, so a localCheckpointed
      // RDD held by a caller sharing the session (whose truncated
      // lineage cannot be recomputed) is never yanked out from under
      // it. With the ids scoped, the eager release stays safe even if
      // plans are one day reused across queries.
      val preexisting = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      // noop sink: forces full materialization of every output column
      // (count() would let Spark skip column evaluation entirely).
      val r = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          // -1 sentinel in the JSON (plus stderr): a failed query must
          // read as a FAILURE, not as a fast successful run.
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
      // Release the finished query's localCheckpoint/cache blocks
      // eagerly: they otherwise accumulate across the whole
      // multi-hundred-query session until GC happens to drop the last
      // plan reference, and the block-manager pressure taxes every later
      // query (+15-25% on unchanged queries in the round-6 bench —
      // the round-7 attribution measurement in PROGRESS.jsonl).
      // Safe between queries: results are fully materialized and no
      // plan is reused across entries.
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preexisting(id) }
        .valuesIterator.foreach(_.unpersist(blocking = false))
      r
    }
    def pass(): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => wanted.isEmpty || wanted(n) }
        .map { case (name, fn) => name -> timeOne(name, fn) }.toMap
    // Canary battery: a fixed set of cheap queries with known-stable
    // plans, timed at session start / between passes / at session end.
    // Their drift measures SESSION-LEVEL noise (host load, JIT state,
    // block-manager pressure) on code that did not change — the signal
    // the round-8 verdict said the harness couldn't adjudicate when
    // recorded totals moved on unchanged queries. An UNMEASURED warm
    // run first absorbs the canaries' own codegen compile so the start
    // battery is comparable to mid/end.
    val canaryNames = Seq("q1_pricing_summary", "q49_winnowing",
      "q59_semantic_dedup", "q77_bloom_decontamination", "q117_psi_drift")
      .filter(SparkEntry.queries.contains)
    def canaryBattery(): Double =
      canaryNames.map(n => timeOne(n, SparkEntry.queries(n)))
        .map(t => math.max(t, 0.0)).sum
    canaryBattery() // warm (codegen compile), discarded
    val canStart = canaryBattery()
    val p1 = pass()
    val canMid = canaryBattery()
    val p2 = pass()
    val canEnd = canaryBattery()
    // drift > 1: the session got slower on unchanged plans; per-query
    // deltas within ±(drift-1) of a previous round are session noise,
    // not code. Guard div-by-zero when the canary set is filtered out.
    val drift = if (canStart > 0) canEnd / canStart else 1.0
    // min of the two passes; any failure in either pass poisons the
    // query's entry to the -1 sentinel.
    val results = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    def ms3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // stdout gets ONE compact JSON line. The consumer keeps only the last
    // 2000 chars of stdout, so the line must stay well under that budget
    // even as the suite grows: keys are the qNN prefix (unique by
    // construction) and durations are rounded to milliseconds. The
    // full-name detail dump is opt-in because sbt re-echoes this
    // program's stderr onto ITS stdout with nondeterministic interleaving
    // — detail lines landing after the JSON line would push it out of the
    // consumer's tail window.
    if (sys.env.contains("SPARK_GRAFT_BENCH_DETAIL"))
      results.toSeq.sortBy(_._1).foreach { case (k, v) =>
        System.err.println(f"[bench] $k%-32s ${ms3(v)}%8s s")
      }
    // Growth guard: the consumer reads only the LAST 2000 chars of
    // stdout (plus sbt's trailing [success] line, ~70 chars), so if the
    // full per-query map would push the line past ~1850 chars, keep
    // only the slowest entries and say how many were elided — a
    // truncated-but-parseable line beats the silent parsed:null failure
    // this suite hit once before.
    // Canary-normalized total (total ÷ drift): the round-over-round
    // comparison figure, emitted directly so consumers stop re-deriving
    // it — a drifted session's inflated total reads comparable again.
    val grandTotal = results.values.filter(_ >= 0).sum
    val canaryJson = s""""canary":{"start":${ms3(canStart)},"mid":${ms3(canMid)},"end":${ms3(canEnd)}},"session_drift":${ms3(drift)},"total_drift_adj":${ms3(if (drift > 0) grandTotal / drift else grandTotal)}"""
    // cpus/parallelism: the driver's scaling probe flagged
    // `suspect_cpus_ignored` in r15 because nothing in the output PROVED
    // the env var reached the master string. Emit both so the harness can
    // verify instead of suspect: cpus is SPARK_GRAFT_CPUS resolved to the
    // session's core count, parallelism is the live scheduler's
    // defaultParallelism (local[N] ⇒ N).
    val envJson = Bench.envJson(cpus, spark.sparkContext.defaultParallelism)
    def render(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + ms3(v) }
        .mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec",$envJson,$canaryJson,"queries":$qs$om,"sf":"$sfDir"}"""
    }
    // Full-fidelity dump (both passes + min + canaries) to a file when
    // asked — the committed BENCH_FULL_r{N}.json artifact the round-8
    // verdict requested, free of the stdout-tail truncation below.
    sys.env.get("SPARK_GRAFT_BENCH_FULL_OUT").foreach { path =>
      val per = results.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":{"p1":${ms3(p1(k))},"p2":${ms3(p2(k))},"min":${ms3(v)}}"""
      }.mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      val full = s"""{"metric":"total","value":${ms3(total)},"unit":"sec",$canaryJson,"queries":$per,"sf":"$sfDir"}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), full)
    }
    val all = results.toSeq
    var line = render(all, 0)
    if (line.length > 1850) {
      // failed queries (-1 sentinel) always survive the cut, then slowest
      val keep = all.sortBy { case (_, v) =>
        if (v < 0) Double.NegativeInfinity else -v }.take(60)
      line = render(keep, all.size - keep.size)
    }
    println(line)
    spark.stop()
  }

  /** The line's `"cpus"` / `"parallelism"` fields. `cpus` is the
    * SPARK_GRAFT_CPUS spec resolved by [[Sessions.coresOf]]: spliced
    * verbatim, a valid spec such as `*` or `8,4` made the line invalid
    * JSON. */
  private[graft] def envJson(cpus: String, parallelism: Int): String =
    s""""cpus":${Sessions.coresOf(cpus)},"parallelism":$parallelism"""
}
