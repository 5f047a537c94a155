package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftglue.Bus
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

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
  *  - q247_bpe_fertility: 41, with no argmax barrier per BPE superstep
  *    (the 1-row argmax is computed inside applyMerge's broadcast).
  *  - q248_bpe_compression: 39, same elided argmax barrier as q247.
  *  - q256_bpe_oov_audit: 55, applying its 8 learned merges to the
  *    held-out vocab in ONE broadcast pass, not 8 applyMerge barriers.
  *  - q42_mrapp_wordcount: 3, running `MapReduce.dataset`: the parquet
  *    schema job of reading `documents`, the map-side job of the one
  *    shard exchange (adaptive execution runs it as its own query
  *    stage) and the job of the reduce side.
  *  - q43_mrapp_indexer: 3, the same `MapReduce.dataset` plan as q42.
  *
  * One prepared hybrid lookup (`Retrieval.hybridSearchPrepared` over a
  * handle on the sf0.001 documents and embeddings, k = 16, nprobe = 4,
  * the query a one-row local relation) starts `lookupJobs`: the jobs
  * of the distributed BM25 arm (df aggregate, doclens join, per-doc
  * aggregate, top-k) plus the one TakeOrdered semantic candidate scan.
  * It started 12 while the query vector was checkpointed, the probe
  * cells were ranked by a Spark window, the totals were crossed in as
  * a relation and the fusion ran as a plan.
  *
  * `MapReduce.run` starts `mrJobs` jobs, and each of its map tasks
  * shuffles at most one record per reduce shard: the shard's packed
  * block, not one record per pair. q42's map tasks, which run the same
  * `packShards` through `MapReduce.dataset`, are held to the same bound.
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val jobBudget = Map(
    "q204_pca_power" -> 9,
    "q209_abtt_rerank" -> 26,
    "q247_bpe_fertility" -> 41,
    "q248_bpe_compression" -> 39,
    "q256_bpe_oov_audit" -> 55,
    "q42_mrapp_wordcount" -> 3,
    "q43_mrapp_indexer" -> 3)

  private val lookupJobs = 6

  private val mrJobs = 1

  /** Runs `body` with `listener` registered and the listener bus
    * drained on both sides of the window. Checkpoint blocks it created
    * are released afterwards. */
  private def listening(listener: SparkListener)(body: => Any): Unit = {
    val sc = spark.sparkContext
    Ckpt.releasingNew(sc) {
      Bus.drain(sc)
      sc.addSparkListener(listener)
      try {
        body
        Bus.drain(sc)
      } finally sc.removeSparkListener(listener)
    }
  }

  /** Jobs started by `body`. */
  private def jobsDuring(body: => Any): Int = {
    val jobs = new AtomicInteger(0)
    listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** Jobs started by constructing and collecting query `name`. */
  private def jobsOf(name: String): Int =
    jobsDuring(SparkEntry.queries(name)(spark, dir).collect())

  test("iterative queries start exactly their recorded number of jobs") {
    val counts = jobBudget.keys.toSeq.sorted.map(n => n -> jobsOf(n))
    val off = counts.collect {
      case (n, c) if c != jobBudget(n) =>
        s"$n: $c jobs (recorded ${jobBudget(n)})"
    }
    assert(off.isEmpty, off.mkString("\n"))
  }

  test("a prepared hybrid lookup starts exactly its recorded jobs") {
    val t = Tables(spark, dir)
    val tIdx = TestSpark.tmpDir("jobs-text")
    sinks.TextIndex.build(t.documents.select(col("doc_id"), col("text")),
      tIdx)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val vIdx = TestSpark.tmpDir("jobs-ivf")
    sinks.VectorIndex.build(e, vIdx, k = 16)
    val q = spark.createDataFrame(
      e.where(col("vec_id") === 0L).collect().toSeq.asJava, e.schema)
    val handle = queries.Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      val n = jobsDuring(queries.Retrieval.hybridSearchPrepared(handle,
        Seq("spark", "window", "merge"), q, nprobe = 4).collect())
      assert(n == lookupJobs, s"lookup: $n jobs (recorded $lookupJobs)")
    } finally handle.close()
  }

  private def books: Seq[String] =
    Seq("whale.txt", "garden.txt", "numbers.txt", "repeat.txt")
      .map(f => TestSpark.resource(s"books/$f"))

  test("MapReduce.run starts exactly its recorded jobs") {
    val out = TestSpark.tmpDir("jobs-mr")
    val n = jobsDuring(
      core.MapReduce.run(spark, books, apps.WordCount, 10, out))
    assert(n == mrJobs, s"MapReduce.run: $n jobs (recorded $mrJobs)")
  }

  /** Asserts that `body` runs map tasks and that they write at most
    * `nReduce` shuffle records each. */
  private def assertPackedShuffle(what: String, nReduce: Int)(
      body: => Any): Unit = {
    val mapTasks = new AtomicInteger(0)
    val records = new AtomicLong(0)
    listening(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") {
          mapTasks.incrementAndGet()
          records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
    })(body)
    val bound = mapTasks.get().toLong * nReduce
    assert(mapTasks.get() > 0, s"$what ran no map task")
    assert(records.get() <= bound, s"$what wrote ${records.get()} " +
      s"shuffle records from ${mapTasks.get()} map tasks (at most $bound)")
  }

  test("MapReduce.run shuffles at most one record per (map task, shard)") {
    val out = TestSpark.tmpDir("shuffle-mr")
    assertPackedShuffle("MapReduce.run", 10)(
      core.MapReduce.run(spark, books, apps.WordCount, 10, out))
  }

  test("q42 shuffles at most one record per (map task, shard)") {
    assertPackedShuffle("q42_mrapp_wordcount", core.MapReduce.DefaultNReduce)(
      SparkEntry.queries("q42_mrapp_wordcount")(spark, dir).collect())
  }
}
