package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftglue.Bus
import java.util.concurrent.atomic.AtomicInteger

/** Dev-only order-alternating in-JVM A/B runner (the r15 protocol fix:
  * cross-process A/Bs at 2-5 s per query drown in session noise, and a
  * fixed A-then-B order inside one JVM is biased because B always runs
  * the same query warm). Usage:
  *
  *   runMain graft.AB <sfDir> <reps> <confKey>=<valA>|<valB> q1 q2 ...
  *
  * Runs each rep pair in alternating order (A,B / B,A / ...), times the
  * noop-sink write (construction + execution — ckpt chains execute at
  * construction), counts Spark jobs per run via a listener (its bus
  * drained before every read, so the counts are exact), and prints
  * per-query medians of both. The conf key is set on the session
  * before each variant's construction so conf-gated code paths toggle
  * per run.
  *
  * An experiment key lives for one round: a change under test may read
  * a temporary conf key so both formulations run in one binary, and
  * once the A/B decision is recorded (OPTIMIZATION_rN.md) the key and
  * the losing code path are deleted. No such key exists today; the
  * runner also toggles stock Spark keys.
  */
object AB {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, toggle) = args.take(3)
    val queries = args.drop(3).toSeq
    val reps = repsS.toInt
    val Array(confKey, vals) = toggle.split("=", 2)
    val Array(valA, valB) = vals.split("\\|", 2)
    val unknown = queries.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localSized("graft-ab", cpus, sfDir)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    def runOnce(name: String, v: String): (Double, Int) =
      Ckpt.releasingNew(spark.sparkContext) {
        spark.conf.set(confKey, v)
        Bus.drain(spark.sparkContext)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Bus.drain(spark.sparkContext)
        (sec, jobs.get() - j0)
      }

    def med[N: Ordering](xs: Seq[N]): N = {
      val s = xs.sorted; s(s.length / 2)
    }

    queries.foreach { name =>
      // one unmeasured warm run per variant (codegen compile)
      runOnce(name, valA); runOnce(name, valB)
      val ra = scala.collection.mutable.ArrayBuffer[(Double, Int)]()
      val rb = scala.collection.mutable.ArrayBuffer[(Double, Int)]()
      (0 until reps).foreach { r =>
        val order = if (r % 2 == 0) Seq(valA, valB) else Seq(valB, valA)
        order.foreach { v =>
          (if (v == valA) ra else rb) += runOnce(name, v)
        }
      }
      val ma = med(ra.map(_._1).toSeq); val mb = med(rb.map(_._1).toSeq)
      val ja = med(ra.map(_._2).toSeq); val jb = med(rb.map(_._2).toSeq)
      println(f"[ab] $name%-28s $confKey=$valA%-6s ${ma}%7.3f s ($ja jobs)  " +
        f"$confKey=$valB%-6s ${mb}%7.3f s ($jb jobs)  B/A=${mb / ma}%5.3f")
    }
    spark.stop()
  }
}
