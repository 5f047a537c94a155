package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{Sessions, SparkEntry, Tables}
import graft.apps.{Indexer, WordCount}
import graft.core.MapReduce
import graft.queries.Retrieval
import graft.sinks.{TextIndex, VectorIndex}

/** JVM side of the benchmark: sets the session up, runs warm-up and
  * measured passes over one workload through the program's public entry
  * points, and writes every timing and output to `<out>` for `run.py`,
  * which checks the outputs and reduces the timings to metrics.
  *
  * {{{
  * Main --workload query-mix --data D --out O --cpus 4 --seconds 8 --trace 0
  *      --warmup 2 --min-passes 2 --queries chain:q204_pca_power,...
  *      --battery B --cells 64
  * }}}
  */
object Main {

  /** One timed operation of a pass. */
  final class Op(val kind: String, val name: String) {
    var ok = false
    var seconds = 0.0
    var error = ""
    val extra = mutable.LinkedHashMap[String, Any]()
    def json: Map[String, Any] = Map("kind" -> kind, "name" -> name,
      "ok" -> ok, "s" -> seconds, "error" -> error) ++ extra
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val cpus = a("cpus")
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val warmup = a("warmup").toInt
    val minPasses = a("min-passes").toInt

    // --- set-up, timed from JVM start: the session, then a warm-up job
    val spark = Sessions.local("perfbench", cpus)
    val start = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t1 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
    val warm = (System.nanoTime() - t1) / 1e9
    val setup = Map("start_s" -> start, "warmup_s" -> warm, "setup_s" -> (start + warm))
    val sc = spark.sparkContext
    val layers = new Layers
    val tables = Tables(spark, data)

    def jobsNow(traced: Boolean): Long =
      if (traced) { org.apache.spark.perfbench.Bus.drain(sc); layers.jobs } else 0L
    def tasksNow(traced: Boolean): Long =
      if (traced) { org.apache.spark.perfbench.Bus.drain(sc); layers.tasks } else 0L
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def op(kind: String, name: String)(body: Op => Unit): Op = {
      val o = new Op(kind, name)
      val t0 = System.nanoTime()
      try { body(o); o.ok = true }
      catch {
        case e: Throwable =>
          o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(400)
      }
      o.seconds = (System.nanoTime() - t0) / 1e9
      o
    }
    def release(pre: collection.Set[Int]): Unit =
      sc.getPersistentRDDs.filterNot { case (id, _) => pre(id) }
        .valuesIterator.foreach(_.unpersist(blocking = true))

    // --- the workloads: one pass each, writing into `dir`, after
    // operations that run once per run (`prelude`)
    var prelude = Seq.empty[Op]
    val pass: (String, Boolean) => Seq[Op] = workload match {
      case "query-mix" =>
        // a pass runs the query list, then one closed loop over the
        // lookup battery; the indexes the lookups read are built and
        // opened once per run, in the prelude
        val list = a("queries").split(",").toSeq.map { s =>
          val Array(half, name) = s.split(":", 2)
          (half, name, SparkEntry.queries(name))
        }
        val sql = SparkEntry.oracleSql
        Files.writeString(Paths.get(s"$out/oracle_sql.json"),
          Json(list.collect { case (_, n, _) if sql.contains(n) => n -> sql(n) }.toMap))
        val lines = Files.readAllLines(Paths.get(a("battery")), UTF_8).asScala.toSeq
          .filter(_.nonEmpty).map(_.split("\t", -1))
        val battery = lines.map(l => (l(0).toLong, l(1).toInt, l(2).split(" ").toSeq))
        val vectors = tables.embeddings.where(col("vec_id").isin(battery.map(_._1): _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        val qSchema = StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType))))
        val text = s"$out/index/text"
        val vector = s"$out/index/vector"
        var handle: Retrieval.ServingHandle = null
        prelude = Seq(
          op("text_build", "text_index") { _ =>
            TextIndex.build(tables.documents.select(col("doc_id"), col("text")), text) },
          op("vector_build", "vector_index") { _ =>
            VectorIndex.build(tables.embeddings.select(col("vec_id"), col("embedding")),
              vector, a("cells").toInt) },
          op("prepare", "prepare_serving") { _ =>
            handle = Retrieval.prepareServing(spark, text, vector) })
        (dir, traced) => {
          val queries = list.map { case (half, name, fn) =>
            val pre = sc.getPersistentRDDs.keySet
            val o = op(half, name) { o =>
              val j0 = jobsNow(traced)
              val (df, construct) = timed(fn(spark, data))
              o.extra("construct_jobs") = jobsNow(traced) - j0
              val (_, plan) = timed(df.queryExecution.executedPlan)
              val (_, exec) = timed(df.write.mode("overwrite").parquet(s"$dir/$name"))
              o.extra ++= Seq("construct_s" -> construct, "plan_s" -> plan, "exec_s" -> exec)
            }
            release(pre)
            o
          }
          val found = new java.io.PrintWriter(Files.newBufferedWriter(
            Paths.get(s"$dir/lookups.jsonl"), UTF_8))
          val lookups = try battery.map { case (id, nprobe, terms) =>
            op("lookup", id.toString) { o =>
              val j0 = jobsNow(traced)
              val t0 = tasksNow(traced)
              val q = spark.createDataFrame(
                java.util.List.of(Row(id, vectors(id))), qSchema)
              val (df, construct) = timed(
                Retrieval.hybridSearchPrepared(handle, terms, q, nprobe))
              val (rows, exec) = timed(df.collect())
              o.extra ++= Seq("construct_s" -> construct, "exec_s" -> exec,
                "jobs" -> (jobsNow(traced) - j0), "tasks" -> (tasksNow(traced) - t0))
              found.println(Json(Map("id" -> id, "nprobe" -> nprobe, "terms" -> terms,
                "rows" -> rows.toSeq.map(_.toSeq))))
            }
          } finally found.close()
          queries ++ lookups
        }

      case "mr-apps" =>
        val inputs = Files.readAllLines(Paths.get(a("inputs")), UTF_8).asScala.toSeq
          .filter(_.nonEmpty)
        (dir, _) => Seq(
          op("wc", "wc") { o =>
            o.extra("files") = MapReduce.run(spark, inputs, WordCount, 10, s"$dir/wc") },
          op("indexer", "indexer") { o =>
            o.extra("files") = MapReduce.run(spark, inputs, Indexer, 10, s"$dir/indexer") })

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Heap in use after a full collection. Blocks of broadcasts and
    // checkpoints whose handles the first collection frees are removed
    // by Spark's cleaner thread afterwards, so it gets a moment and a
    // second collection before the heap is read.
    def liveHeapMb(): Double = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // CPU of the JIT compiler threads, from /proc/self/task: it is
    // subtracted from the pass's process CPU (and reported on its own),
    // because how much compilation lands inside a measured pass varies
    // from run to run far more than the program's own work does.
    def jitCpuNs(): Long =
      Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
        try {
          val comm = Files.readString(Paths.get(t.getPath, "comm")).trim
          if (!comm.contains("CompilerThre")) 0L
          else {
            val st = Files.readString(Paths.get(t.getPath, "stat"))
            val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
            (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, 100 Hz ticks
          }
        } catch { case _: java.io.IOException => 0L }
      }.sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    // Waits, outside any timed window, until the JIT compilers have
    // been idle for 300 ms (at most `maxMs`): compilation queued by the
    // previous pass would otherwise compete with the next one for the
    // task slots.
    def settle(maxMs: Long): Double = {
      val t0 = System.nanoTime()
      var last = jit.getTotalCompilationTime
      var quiet = 0
      while (quiet < 3 && (System.nanoTime() - t0) / 1e6 < maxMs) {
        Thread.sleep(100)
        val now = jit.getTotalCompilationTime
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
      (System.nanoTime() - t0) / 1e9
    }
    // --- passes: warm-up first, then measured passes until `seconds`
    // of measured operation time; a traced run listens to every
    // measured pass
    val passRecs = mutable.ArrayBuffer[Map[String, Any]]()
    var measured = 0
    var measuredSeconds = 0.0
    var i = 0
    while (i < warmup || measured < minPasses || measuredSeconds < seconds) {
      val isMeasured = i >= warmup
      val traced = trace && isMeasured
      val settled = settle(if (i == warmup) 8000 else 3000)
      val dir = s"$out/passes/$i"
      Files.createDirectories(Paths.get(dir))
      if (traced) { org.apache.spark.perfbench.Bus.drain(sc); layers.reset(); sc.addSparkListener(layers) }
      val gc0 = gcs.map(_.getCollectionTime).sum
      val gcn0 = gcs.map(_.getCollectionCount).sum
      val jit0 = jit.getTotalCompilationTime
      val cpu0 = os.getProcessCpuTime
      val jitCpu0 = jitCpuNs()
      val epoch0 = System.currentTimeMillis()
      val wall0 = System.nanoTime()
      val ops = pass(dir, traced)
      val wall = (System.nanoTime() - wall0) / 1e9
      val epoch1 = System.currentTimeMillis()
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> i, "measured" -> isMeasured, "traced" -> traced, "dir" -> dir,
        "wall_s" -> wall, "process_cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "jit_cpu_s" -> (jitCpuNs() - jitCpu0) / 1e9,
        "gc_ms" -> (gcs.map(_.getCollectionTime).sum - gc0),
        "gc_count" -> (gcs.map(_.getCollectionCount).sum - gcn0),
        "jit_ms" -> (jit.getTotalCompilationTime - jit0), "settle_s" -> settled,
        "ops" -> ops.map(_.json))
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(layers)
        rec("layers") = layers.summary(epoch0, epoch1, sc.defaultParallelism)
      }
      if (isMeasured) rec("heap_mb") = liveHeapMb() else System.gc()
      passRecs += rec.toMap
      if (isMeasured) { measured += 1; measuredSeconds += ops.map(_.seconds).sum }
      i += 1
    }

    // --- apps layer (traced runs): the MR functions alone, one thread
    val apps: Map[String, Any] =
      if (trace && workload == "mr-apps") appsLayer(a("inputs")) else Map.empty

    val result = Map("workload" -> workload, "cpus" -> cpus,
      "parallelism" -> sc.defaultParallelism, "setup" -> setup,
      "prelude" -> prelude.map(_.json), "passes" -> passRecs.toSeq, "apps" -> apps)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    spark.stop()
  }

  /** Median seconds of three single-threaded map and reduce sweeps of
    * both apps over the corpus, outside Spark. */
  private def appsLayer(inputsFile: String): Map[String, Any] = {
    val files = Files.readAllLines(Paths.get(inputsFile), UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map(f => f -> new String(Files.readAllBytes(Paths.get(f)), UTF_8))
    val maps = mutable.ArrayBuffer[Double]()
    val reduces = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      val wc = files.flatMap { case (f, c) => WordCount.map(f, c) }
      val ix = files.flatMap { case (f, c) => Indexer.map(f, c) }
      maps += (System.nanoTime() - t0) / 1e9
      val wcGroups = wc.groupMap(_.key)(_.value).toSeq
      val ixGroups = ix.groupMap(_.key)(_.value).toSeq
      val t1 = System.nanoTime()
      wcGroups.foreach { case (k, vs) => WordCount.reduce(k, vs) }
      ixGroups.foreach { case (k, vs) => Indexer.reduce(k, vs) }
      reduces += (System.nanoTime() - t1) / 1e9
    }
    Map("map_s" -> maps.sorted.apply(1), "reduce_s" -> reduces.sorted.apply(1))
  }
}

/** Counts and sums of one traced pass, fed by the listener bus. */
final class Layers extends SparkListener {
  var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, deserMs = 0L
  private var writeBytes, readBytes, writeRecords, fetchWaitMs, spillBytes = 0L
  private var inBytes, inRecords = 0L
  private var mapStageMs, reduceStageMs = 0L
  private val spans = mutable.ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; deserMs = 0
    writeBytes = 0; readBytes = 0; writeRecords = 0; fetchWaitMs = 0; spillBytes = 0
    inBytes = 0; inRecords = 0; mapStageMs = 0; reduceStageMs = 0; spans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val s = e.stageInfo
    val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
    val m = s.taskMetrics
    if (m != null) {
      if (m.shuffleWriteMetrics.recordsWritten > 0) mapStageMs += wall
      else if (m.shuffleReadMetrics.recordsRead > 0) reduceStageMs += wall
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime; deserMs += m.executorDeserializeTime
      writeBytes += m.shuffleWriteMetrics.bytesWritten
      writeRecords += m.shuffleWriteMetrics.recordsWritten
      readBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead; inRecords += m.inputMetrics.recordsRead
    }
  }

  /** The pass's layer record; `from`/`to` bound the pass in epoch ms. */
  def summary(from: Long, to: Long, slots: Int): Map[String, Any] = synchronized {
    val durations = spans.map { case (a, b) => b - a }.sorted
    // wall time inside the pass during which no task was running
    var covered = 0L
    var reach = from
    for ((a, b) <- spans.sortBy(_._1)) {
      val lo = math.max(a, reach)
      val hi = math.min(b, to)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    val wallMs = math.max(1L, to - from)
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "gap_ms" -> (wallMs - covered),
      "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
      "utilization" -> runMs.toDouble / (wallMs * slots),
      "task_p50_ms" -> (if (durations.isEmpty) 0L else durations(durations.size / 2)),
      "task_max_ms" -> (if (durations.isEmpty) 0L else durations.last),
      "write_bytes" -> writeBytes, "read_bytes" -> readBytes, "write_records" -> writeRecords,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
      "input_bytes" -> inBytes, "input_records" -> inRecords,
      "map_stage_s" -> mapStageMs / 1e3, "reduce_stage_s" -> reduceStageMs / 1e3)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
