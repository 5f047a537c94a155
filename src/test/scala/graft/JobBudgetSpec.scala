package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftglue.Bus
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Job-count regression net: the exact number of Spark jobs a query
  * starts at sf0.001 — the eager checkpoint jobs of its construction
  * plus the jobs of collecting its result — counted by a listener whose
  * bus is drained before each read. ShuffleBudgetSpec sees only the
  * exchanges left in the final plan; a superstep chain re-grown behind
  * `ckpt()` barriers is invisible there and shows up here, one job
  * (~70-100 ms of launch latency) per barrier stage.
  *
  * Counts are exact, not ceilings: a query that drops jobs must lower
  * its entry, so the table always states what the query does.
  *
  *  - q204_pca_power: 38 jobs while the power iteration ran as three
  *    checkpointed `mult`/`normalize` supersteps; 9 since it runs as
  *    one single-task step over the checkpointed gram.
  *  - q209_abtt_rerank: 46 → 26 (it shares q204's `pcaParts`).
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val jobBudget = Map(
    "q204_pca_power" -> 9,
    "q209_abtt_rerank" -> 26)

  /** Jobs started by constructing and collecting `name`, with the
    * listener bus drained on both sides of the window. Checkpoint
    * blocks the query created are released afterwards. */
  private def jobsOf(name: String): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val preexisting = sc.getPersistentRDDs.keySet
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, dir).collect()
      Bus.drain(sc)
      jobs.get()
    } finally {
      sc.removeSparkListener(listener)
      sc.getPersistentRDDs
        .filterNot { case (id, _) => preexisting(id) }
        .valuesIterator.foreach(_.unpersist(blocking = false))
    }
  }

  test("iterative queries start exactly their recorded number of jobs") {
    val counts = jobBudget.keys.toSeq.sorted.map(n => n -> jobsOf(n))
    val off = counts.collect {
      case (n, c) if c != jobBudget(n) =>
        s"$n: $c jobs (recorded ${jobBudget(n)})"
    }
    assert(off.isEmpty, off.mkString("\n"))
  }
}
