package graft.apps

import org.apache.spark.sql.SparkSession

import graft.core.{KV, MRApp, MapReduce}

/** Process-level crash fidelity. The reference's crash app kills the
  * whole WORKER PROCESS (`/root/reference/mrapps/crash.go:24`,
  * `os.Exit(1)`), while [[FaultInjected]] injects task-level
  * exceptions — same recovery semantics, smaller blast radius. This
  * demo closes that gap on a `local-cluster[2,2,1024]` standalone
  * cluster (real executor JVMs, not threads): it runs word count
  * through `MapReduce.run` over the input files named on its command
  * line, in two scenarios that each halt one executor JVM, and each
  * must write exactly `MapReduce.runSequential`'s output:
  *
  *  1. MAP-stage kill: the first `map` call halts its ENTIRE executor
  *     JVM (`Runtime.halt` — no shutdown hooks, exactly `os.Exit`),
  *     taking every concurrently running map task with it; the Worker
  *     relaunches the executor and lost tasks reschedule (C3
  *     re-execution + C5 first-finish-wins, SURVEY.md §2.2).
  *  2. REDUCE-stage kill: the first `reduce` call halts its executor
  *     AFTER the map output exists, destroying its local shuffle files
  *     (the analog of the reference's worker-local mr-* intermediates);
  *     a reducer that fetches from it hits FetchFailed and the
  *     DAGScheduler must RESUBMIT the finished map stage (C8 —
  *     re-execution of completed work after output loss).
  *
  * Runs as a separate main (driven by ExecutorCrashSpec via a child
  * process) because a JVM hosts at most one SparkContext and the test
  * suites share a `local[4,4]` session. Exits 0 on success, 2 on a
  * result mismatch or a scenario whose halt never happened, 3 on
  * watchdog timeout (e.g. executors never launched).
  */
object ExecutorCrashDemo {

  /** `app`, except that the first call of `map` (or, with `inReduce`,
    * of `reduce`) anywhere on the cluster halts its executor JVM. The
    * marker file on the local FS, visible to both executor JVMs (same
    * host), makes that exactly one halt, so the job terminates just as
    * crash.go's probabilistic exits eventually let it.
    */
  private final class HaltOnce(app: MRApp, marker: String, inReduce: Boolean)
      extends MRApp {
    def name: String = app.name
    def map(file: String, contents: String): Seq[KV] = {
      if (!inReduce) haltOnce()
      app.map(file, contents)
    }
    def reduce(key: String, values: Seq[String]): String = {
      if (inReduce) haltOnce()
      app.reduce(key, values)
    }
    private def haltOnce(): Unit =
      if (new java.io.File(marker).createNewFile()) Runtime.getRuntime.halt(1)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExecutorCrashDemo <input...>")
    val inputs = args.toSeq
    // Watchdog: local-cluster failures manifest as a hang (job waits
    // forever for executor resources) — convert that to a clean exit 3.
    val watchdog = new Thread(() => {
      Thread.sleep(240000L)
      System.err.println("[executor-crash] watchdog timeout")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()

    val tmp = java.nio.file.Files.createTempDirectory("graft-crash")
    val spark = SparkSession.builder()
      .master("local-cluster[2,2,1024]")
      .appName("graft-executor-crash")
      // Executor JVMs are launched by the standalone Worker from
      // SPARK_HOME; they need this application's classes too. Absolutize
      // every entry: executors run from their own work dir, where a
      // relative target/scala-2.13/classes silently resolves to nothing
      // (symptom: SerializedLambda ClassCastException on task deser).
      .config("spark.executor.extraClassPath",
        sys.props("java.class.path").split(java.io.File.pathSeparator)
          .map(p => new java.io.File(p).getAbsolutePath)
          .mkString(java.io.File.pathSeparator))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val golden = tmp.resolve("seq").toString
      MapReduce.runSequential(inputs, WordCount, golden)
      val expected = MapReduce.readOutput(golden).sorted
      Seq("map" -> false, "reduce" -> true).foreach { case (stage, inReduce) =>
        val marker = tmp.resolve(s"$stage-killed").toFile
        val out = tmp.resolve(stage).toString
        MapReduce.run(spark, inputs,
          new HaltOnce(WordCount, marker.getPath, inReduce), outDir = out)
        val got = MapReduce.readOutput(out).sorted
        if (!marker.exists || got != expected) {
          System.err.println(s"[executor-crash] $stage-stage FAILED: " +
            s"halted=${marker.exists}, ${got.size} pairs, " +
            s"runSequential ${expected.size}")
          spark.stop(); sys.exit(2)
        }
        println(s"[executor-crash] $stage-stage kill recovered: " +
          s"${got.size} pairs == runSequential")
      }
      println("[executor-crash] OK")
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"[executor-crash] FAILED: $e")
        e.printStackTrace()
        sys.exit(2)
    }
  }
}
