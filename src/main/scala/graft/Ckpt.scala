package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset

/** The ONE lineage-cut primitive every query/sink uses in place of a
  * bare `Dataset.localCheckpoint()`.
  *
  * Semantically identical to `localCheckpoint` in production: eagerly
  * materializes the plan so a relation that feeds multiple consumers
  * (both sides of a self-join, a superstep barrier) computes once and
  * downstream plans stay small.
  *
  * The reason it exists is AUDITABILITY: `localCheckpoint` eagerly
  * executes its upstream stages at query-CONSTRUCTION time, so the
  * physical plans the regression nets inspect (PlanQualitySpec /
  * ShuffleBudgetSpec) never contain the checkpointed sub-plans — a
  * data-sized unpartitioned window hidden behind a checkpoint would be
  * invisible to the gates (the round-7 verdict's growing blind spot).
  * Setting [[disabled]] makes `ckpt` a no-op, so a spec pass can build
  * every query's FULL plan — checkpoints included — and run the
  * window/cartesian gates over it. Production code never touches the
  * flag; it is test-only, flipped under try/finally by the audit spec
  * (suites run sequentially in the forked test JVM, so the global is
  * race-free there).
  *
  * A cheap derived relation whose own materialization job costs more
  * than recomputing it inside its one consumer (the BPE argmax row of
  * q247/q248) is left un-checkpointed at its call site; JobBudgetSpec
  * pins those job counts.
  */
object Ckpt {
  /** Test-only: when true, [[CkptOps.ckpt]] returns the dataset
    * unchanged so full plans stay inspectable.
    */
  @volatile var disabled: Boolean = false

  implicit final class CkptOps[T](private val ds: Dataset[T])
      extends AnyVal {
    /** `localCheckpoint()` unless the audit flag is on.
      *
      * Stays EAGER by default: an r15 experiment flipping every ckpt
      * to lazy (folding materialization into the first consumer's job,
      * the ConnectedComponents trick) measured ~5-10 % SLOWER across a
      * 16-query superstep-heavy subset — under AQE, deferred finalize
      * stages interleave with consumer stages and multi-consumer
      * checkpoints pay block-manager contention. Lazy wins only in
      * single-consumer-per-step chains; the one committed opt-in is
      * ConnectedComponents' superstep loop. (mmrSelect/q260 measured
      * −19 % lazy in an ISOLATED A/B but regressed in every full-bench
      * run and stays eager — see the mmrSelect NOTE.)
      */
    def ckpt(): Dataset[T] = if (disabled) ds else ds.localCheckpoint()

    /** `localCheckpoint(eager)` unless the audit flag is on. */
    def ckpt(eager: Boolean): Dataset[T] =
      if (disabled) ds else ds.localCheckpoint(eager)
  }

  /** Run `body`, then release the checkpoint/cache blocks it created.
    *
    * The persisted-RDD ids are snapshotted BEFORE `body`, and only RDDs
    * absent from that snapshot are unpersisted afterwards (in `finally`,
    * so a failed query releases too): a localCheckpointed RDD held by a
    * caller sharing the session has truncated lineage and cannot be
    * recomputed, so its blocks must survive. Without the eager release
    * a long session's finished queries accumulate blocks until GC drops
    * the last plan reference, and the block-manager pressure taxes
    * every later query (+15-25 % on unchanged queries in the round-6
    * bench). Never run two of these concurrently on one context: each
    * would see the other's in-flight checkpoints as "new" and release
    * them mid-query. A body may fan out internally (DeterminismSpec's
    * pool waves): the release then happens once, after the whole wave.
    */
  def releasingNew[A](sc: SparkContext)(body: => A): A = {
    val preexisting = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs
      .filterNot { case (id, _) => preexisting(id) }
      .valuesIterator.foreach(_.unpersist(blocking = false))
  }
}
