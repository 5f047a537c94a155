package graft

import org.scalatest.funsuite.AnyFunSuite

/** Same-engine determinism net: every declared query, run twice at
  * sf0.001, must produce identical normalized output — and a third run
  * at a different shuffle-partition count must match too (the
  * 1000-executor property: answers must not depend on parallelism —
  * catches unstable LIMIT tiebreaks, partition-order-dependent
  * aggregates, raw double-sum ordering, per-partition limits, anything
  * keyed on physical partition ids). The failure class the DuckDB
  * oracle can only catch when the two engines happen to break ties
  * differently.
  *
  * r16 runtime rework (same coverage, ~3× faster): the former two
  * tests ran FOUR fingerprints per query sequentially and never
  * released checkpoint blocks. Now one fused test computes THREE
  * fingerprints per query (run-to-run identity AND partition
  * invariance both still proven), queries run on a small thread pool
  * (guide §2.6 — per-query Spark jobs at sf0.001 are latency-bound,
  * so overlapping them fills the idle slots), the partition-7 run
  * rides a fresh session (`newSession()`: its own SQLConf built from
  * the builder-time conf only — runtime `conf.set`s on the base session
  * are NOT carried over — so no global conf mutation races the pool),
  * and each query's checkpoint blocks are released eagerly (the
  * round-7 block-manager-pressure finding).
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def fingerprint(s: org.apache.spark.sql.SparkSession,
      name: String): String = {
    val df = SparkEntry.queries(name)(s, dir)
    val cols = df.columns.sorted
    // NUL separator: a bare concat would let adjacent-column splits
    // ("ab","c" vs "a","bc") fingerprint identically
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0000"))
      .sorted.mkString("\n")
  }

  test("every query's output is identical across two runs and " +
      "invariant to the shuffle partition count") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Checkpoint blocks are released BETWEEN pool waves, never inside
    // one: a per-query release keyed on a per-thread snapshot would
    // see sibling threads' in-flight checkpoint RDDs as "new" and
    // yank their truncated-lineage blocks mid-query.
    val results = names.grouped(16).toSeq.flatMap { chunk =>
      val preexisting = spark.sparkContext.getPersistentRDDs.keySet
      val rs = TestSpark.parMap(chunk) { name =>
        val a = fingerprint(spark, name)
        val rerun = a == fingerprint(spark, name)
        val invariant = a == fingerprint(alt, name)
        (name, rerun, invariant)
      }
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preexisting(id) }
        .valuesIterator.foreach(_.unpersist(blocking = false))
      rs
    }
    val nondet = results.collect { case (n, false, _) => n }
    val parDep = results.collect { case (n, _, false) => n }
    assert(nondet.isEmpty, s"nondeterministic queries: ${nondet.mkString(", ")}")
    assert(parDep.isEmpty,
      s"parallelism-dependent queries: ${parDep.mkString(", ")}")
  }
}
