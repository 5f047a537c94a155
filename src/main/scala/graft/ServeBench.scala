package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bus

/** Serving-latency probe for [[graft.queries.Retrieval.hybridSearch]]
  * — the repo's one INTERACTIVE path (q171's fused ranking over the
  * persisted TextIndex + VectorIndex): what a 100 TB operator actually
  * asks of it is per-QUERY wall over indexes built at scale, not the
  * batch-eval numbers Bench/SinkBench report. Prints ONE JSON line:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/tmp/graft_scaleprobe_x100 \
  * SPARK_GRAFT_SERVE_IDX=/tmp/graft_serve_x100 \
  * SPARK_DRIVER_MEM=32g sbt "runMain graft.ServeBench"
  * }}}
  *
  * Two phases, two correctly-sized sessions:
  *  - BUILD (skipped when the index root already exists — probes
  *    re-run against a persisted artifact, the production shape):
  *    `Sessions.localSized`, the data-derived partition floor, because
  *    indexing IS a batch job.
  *  - SERVE: `Sessions.local` at the core count — a per-query top-20
  *    is micro-batch-shaped work, and the r13 StreamBench finding
  *    (data-derived floors inflate small-work latency ~2.4×) applies
  *    verbatim to interactive queries.
  *
  * Latency is end-to-end per query: plan + both index probes +
  * fusion + collect of the ≤topN rows (collect IS the serving
  * contract here — the caller wants the ranked list, unlike Bench's
  * noop-sink discipline for corpus-sized results). The first query is
  * reported separately as `cold_s` (it absorbs codegen) and excluded
  * from the percentiles, matching how a serving tier warms.
  *
  * Two latency points per run: the UNPREPARED path (every query
  * re-resolves the index relations and re-collects the totals and
  * centroids — `p50_s`/`p95_s`) and the WARM path over one
  * `Retrieval.prepareServing` handle (relations resolved once, totals
  * and centroids on the driver, doclens cached on the executors —
  * `warm_p50_s`/`warm_p95_s`, with the one-time `prep_s` separate).
  * The gap is pure per-call overhead: both paths run the same plan
  * shape (RetrievalSpec pins row equality), so warm/cold is the
  * re-planning + re-listing + statistics-re-read tax a prepared
  * serving tier avoids. Each query arrives as a one-row local
  * relation, as a caller hands it in. `warm_jobs_p50` is the median
  * number of Spark jobs one warm query starts, counted by a listener
  * whose bus is drained around each query — the figure perfbench
  * reports as `retrieval.jobs_per_lookup`.
  *
  * Pruning evidence — measured from the index, not asserted: the
  * lexical arm's scale story is that range-clustered postings let a
  * term filter skip everything outside each file's word min/max. The
  * bench reads every postings footer (parquet-hadoop, driver-side,
  * O(files)) and reports how many ROW GROUPS each query's term bag
  * actually intersects vs the total — the exact skip set the pushed
  * `word IN (...)` filter gives the scan. The semantic arm's blast
  * radius is nprobe/k cells by construction; both are in the JSON.
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val idxRoot = sys.env.getOrElse("SPARK_GRAFT_SERVE_IDX",
      java.nio.file.Files.createTempDirectory("graft-serve").toString)
    val k = sys.env.getOrElse("SPARK_GRAFT_SERVE_K", "64").toInt
    val nprobe = sys.env.getOrElse("SPARK_GRAFT_SERVE_NPROBE", "4").toInt
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_SERVE_QUERIES", "20").toInt

    val text = s"$idxRoot/text"
    val vector = s"$idxRoot/vector"
    if (!new java.io.File(s"$text/postings").exists()) {
      val b = Sessions.localSized("graft-serve-build", cpus, sfDir)
      sinks.TextIndex.build(
        Tables(b, sfDir).documents.select(col("doc_id"), col("text")),
        text)
      sinks.VectorIndex.build(
        Tables(b, sfDir).embeddings
          .select(col("vec_id"), col("embedding")),
        vector, k)
      b.stop()
      // one JVM, two sessions: drop the builder's session state so the
      // serving session's conf (core-count partitions) takes effect
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }

    val spark = Sessions.local("graft-serve", cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM warmup

    // query battery: nQueries embedded docs spread across the id range
    // (stride sampling — low ids are ScaleProbe seed rows, so a 0..n
    // prefix would sample only the 1× corpus); terms = the first 8
    // distinct words of each query doc's own text (what a user typing
    // that document's subject would issue)
    val e = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding"))
    val d = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val stride = math.max(1L, maxId / nQueries)
    val battery = e.where(col("vec_id") % stride === 0)
      .join(d, col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        slice(expr(s"array_distinct(${
          graft.queries.TextQueries.wordsExpr})"), 1, 8).as("terms"))
      .orderBy(col("vec_id")).limit(nQueries)
    val qs = battery.select(col("vec_id"), col("embedding"), col("terms"))
      .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[String](2)))
    val qSchema = battery.select(col("vec_id"), col("embedding")).schema
    def query(vecId: Long, emb: Any) = spark.createDataFrame(
      java.util.List.of(Row(vecId, emb)), qSchema)

    def serveOnce(vecId: Long, emb: Any, terms: Seq[String]): Double = {
      val t0 = System.nanoTime()
      val rows = graft.queries.Retrieval.hybridSearch(spark, text,
        vector, terms, query(vecId, emb), nprobe).collect()
      require(rows.nonEmpty, s"query $vecId returned no results")
      (System.nanoTime() - t0) / 1e9
    }
    val cold = (serveOnce _).tupled(qs.head)
    val laps = qs.map((serveOnce _).tupled)
    val sorted = laps.sorted
    def pct(p: Double): Double = sorted((p * (sorted.length - 1)).toInt)

    // warm phase: the SAME battery over a prepared handle
    // (Retrieval.prepareServing — index relations resolved once,
    // totals/centroids on the driver, doclens cached), the shape a
    // serving tier actually runs; prep cost is reported separately
    // because it amortizes over the handle's lifetime, not per query
    val tPrep0 = System.nanoTime()
    val handle = graft.queries.Retrieval.prepareServing(spark, text,
      vector)
    val prepS = (System.nanoTime() - tPrep0) / 1e9
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // (seconds, jobs) of one warm query, the bus drained on both sides
    def serveWarm(vecId: Long, emb: Any, terms: Seq[String])
        : (Double, Int) = {
      Bus.drain(sc)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val rows = graft.queries.Retrieval.hybridSearchPrepared(handle,
        terms, query(vecId, emb), nprobe).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      require(rows.nonEmpty, s"warm query $vecId returned no results")
      Bus.drain(sc)
      (sec, jobs.get() - j0)
    }
    (serveWarm _).tupled(qs.head) // first warm lap absorbs codegen
    val (warmLaps, warmJobs) = qs.map((serveWarm _).tupled).unzip
    val warmSorted = warmLaps.sorted
    def wpct(p: Double): Double =
      warmSorted((p * (warmSorted.length - 1)).toInt)

    // postings-footer prune census (driver-side, O(files)): row groups
    // whose [word-min, word-max] intersects each query's term bag
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(s"$text/postings")
      .getFileSystem(conf)
    val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$text/postings"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val ranges = files.flatMap { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.flatMap { blk =>
          blk.getColumns.asScala
            .find(_.getPath.toDotString == "word")
            .flatMap { c =>
              // stats can be absent (stats-disabled writer) or value-
              // less (all-null page); count such row groups as
              // unprunable (min="" sorts below every word, max=￿
              // above) instead of NPE-ing after serving completed
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue)
                Some((st.genericGetMin
                   .asInstanceOf[org.apache.parquet.io.api.Binary]
                   .toStringUsingUTF8,
                 st.genericGetMax
                   .asInstanceOf[org.apache.parquet.io.api.Binary]
                   .toStringUsingUTF8))
              else Some(("", "￿"))
            }
        }
      } finally r.close()
    }
    val hitCounts = qs.map { case (_, _, terms) =>
      ranges.count { case (mn, mx) =>
        terms.exists(t => t >= mn && t <= mx) }
    }.sorted

    println(f"""{"metric":"serve_hybrid_sec","sf":"$sfDir","n_queries":${qs.length},"cold_s":$cold%.3f,"p50_s":${pct(0.5)}%.3f,"p95_s":${pct(0.95)}%.3f,"mean_s":${laps.sum / laps.length}%.3f,"prep_s":$prepS%.3f,"warm_p50_s":${wpct(0.5)}%.3f,"warm_p95_s":${wpct(0.95)}%.3f,"warm_mean_s":${warmLaps.sum / warmLaps.length}%.3f,"warm_jobs_p50":${warmJobs.sorted.apply(warmJobs.length / 2)},"rowgroups_total":${ranges.length},"rowgroups_hit_p50":${hitCounts(hitCounts.length / 2)},"cells":$k,"nprobe":$nprobe}""")
    spark.stop()
  }
}
