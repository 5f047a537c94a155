package graft

/** Build independent EAGER relations concurrently.
  *
  * Multi-arm compositions (q279 = dedup-mass × Shapley × DoReMi,
  * q281 = signatures × exact Jaccard ground truth) chain `ckpt()`
  * barriers inside each arm, and a ckpt executes its upstream stages
  * at query-CONSTRUCTION time. Built sequentially,
  * every arm's superstep tail leaves the rest of the machine idle;
  * Spark's scheduler happily runs the arms' jobs at once (optimization
  * guide §2.6 — "overlap independent jobs": FIFO scheduling back-fills
  * executors freed by one arm's stragglers with the next arm's tasks).
  * These helpers run each thunk on its own thread and return when all
  * are built, so independent arms overlap instead of serializing.
  *
  * Determinism: each arm is itself deterministic and the arms share no
  * mutable state — overlap changes only the wall clock, never a
  * result. Failures rethrow the first arm error. Threads are daemon
  * (a failed build can't pin the JVM) and the pool is unbounded but
  * short-lived per call — arms number ≤3 in every caller.
  *
  * Arms always overlap. The round-15 order-alternating A/B against
  * sequential construction measured 0.69× (q279) and 0.68× (q281) of
  * the sequential wall time (OPTIMIZATION_r15.md, "Par overlap"), so no
  * sequential fallback is kept; q270/q121/q256, where the overlap lost,
  * build their arms sequentially without this helper.
  */
object Par {
  // FRESH daemon threads per invocation, never a pool: Spark stashes
  // per-thread state (active session, execution ids, job-group
  // properties) in InheritableThreadLocals, and a cached pool's
  // long-lived workers would retain that state — and whatever plans it
  // pins — across EVERY later query of a 285-query bench session
  // (observed as progressive session-wide slowdown). Thread start-up
  // is microseconds next to the multi-second arms being overlapped.
  private final class Arm[A](a: => A) extends Thread {
    setDaemon(true)
    @volatile private var out: Either[Throwable, A] = null
    override def run(): Unit =
      out = try Right(a) catch { case t: Throwable => Left(t) }
    def await(): A = {
      join()
      // A thread killed before the try body assigns `out` must read as
      // a failure, not an NPE masking the real cause.
      if (out == null)
        throw new IllegalStateException("Par arm produced no result")
      out.fold(throw _, identity)
    }
  }

  /** Await EVERY arm before rethrowing the first failure: an early
    * rethrow would leave sibling daemon threads running multi-second
    * eager-checkpoint Spark jobs with no cancellation, consuming
    * executors and skewing every later bench timing. Joining all arms
    * first bounds the damage to the failing query itself.
    */
  private def awaitAll[A](arms: Seq[Arm[_]], result: => A): A = {
    var firstErr: Throwable = null
    arms.foreach { arm =>
      try arm.await()
      catch { case t: Throwable => if (firstErr == null) firstErr = t }
    }
    if (firstErr != null) throw firstErr
    result
  }

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val ta = new Arm(a); val tb = new Arm(b)
    ta.start(); tb.start()
    awaitAll(Seq(ta, tb), (ta.await(), tb.await()))
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val ta = new Arm(a); val tb = new Arm(b); val tc = new Arm(c)
    ta.start(); tb.start(); tc.start()
    awaitAll(Seq(ta, tb, tc), (ta.await(), tb.await(), tc.await()))
  }
}
