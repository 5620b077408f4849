package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side overlap of INDEPENDENT sub-plans (optimization guide
  * §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because the driver calls them sequentially. The
  * latency-bound query families here (Lloyd training ladders, CC
  * fixpoints, brute-force recall baselines) each chain 30–90
  * SEQUENTIAL stage materializations at parallelism ≈ 1 (round-13
  * event-log attribution), so when one query composes two such
  * chains that do not depend on each other, running them from two
  * driver threads back-fills the idle cores the other chain leaves.
  * This is a latency fix valid at ANY core count (the chains are
  * serial on 8 cores exactly as on 32), not local-mode tuning.
  *
  * Correctness: every sub-plan in this codebase is deterministic by
  * the house engine-exact rules (integer arithmetic, md5 sampling,
  * total-order ties), so values cannot depend on which thread
  * materializes first; only the SCHEDULE moves. Callers must pass
  * genuinely independent thunks — a lazily-checkpointed frame shared
  * by two thunks must be materialized BEFORE the fork (every call
  * site here does), so no two threads race to first-materialize one
  * checkpoint RDD.
  */
object Par {

  /** Run independent thunks concurrently on driver threads and return
    * their results in order. Each thunk may itself run Spark actions
    * (fixpoint loops, eager checkpoints, writes). FIFO scheduling
    * back-fills: the first thunk's straggler tail shares executors
    * with the second thunk's early stages. Failures propagate to the
    * caller like the sequential form's would.
    */
  def run[A](thunks: Seq[() => A]): Seq[A] = run(thunks, DrainTimeoutMs)

  /** How long a failed call waits for cancelled siblings to stop. */
  private val DrainTimeoutMs = 60000L

  private[graft] def run[A](thunks: Seq[() => A], drainMs: Long): Seq[A] = {
    // strict copy: a lazy Seq (Stream/view) would defer submission
    // into the result map — one-at-a-time execution, or submission
    // after pool shutdown
    val ts = thunks.toVector
    if (ts.lengthCompare(1) <= 0) return ts.map(_())
    val session = SparkSession.getActiveSession
    val groupPrefix = "graft-par-" + java.util.UUID.randomUUID()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      ts.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })
    val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
    try {
      val futs = ts.zipWithIndex.map { case (t, i) =>
        done.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = {
            // a pool thread has no inherited active session; Dataset
            // methods resolve it from the frame, but functions built
            // inside the thunk (broadcast hints, implicits) read the
            // thread-local — restore it explicitly. The job group is
            // per-thunk (thread-local too) so a sibling failure can
            // cancel this thunk's in-flight Spark jobs.
            session.foreach { s =>
              SparkSession.setActiveSession(s)
              s.sparkContext.setJobGroup(s"$groupPrefix-$i",
                "graft.Par thunk", interruptOnCancel = true)
            }
            t()
          }
        })
      }
      // completion order, not submission order: a thunk that fails
      // fast must not wait behind a slow sibling submitted before it
      try ts.indices.foreach(_ => done.take().get())
      catch {
        case e: Throwable =>
          val failure = e match {
            case ee: java.util.concurrent.ExecutionException => ee.getCause
            case other => other
          }
          // A failed thunk must not leave siblings running detached
          // (a store WRITE landing after the caller saw the failure
          // and started cleanup/retry would corrupt the new state —
          // sequentially, later work never started). Interrupt the
          // threads, cancel their Spark job groups, and WAIT for
          // the pool to drain before rethrowing.
          futs.foreach(_.cancel(true))
          session.foreach { s =>
            ts.indices.foreach(j =>
              s.sparkContext.cancelJobGroup(s"$groupPrefix-$j"))
          }
          pool.shutdownNow()
          if (!pool.awaitTermination(drainMs,
              java.util.concurrent.TimeUnit.MILLISECONDS))
            throw new IllegalStateException(
              s"graft.Par: a thunk failed and its siblings are still " +
                s"running $drainMs ms after cancellation — state they " +
                "write (e.g. a store) may be mid-write", failure)
          throw failure
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** Two independent thunks of different result types. */
  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run[Any](Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Eagerly local-checkpoint each INDEPENDENT frame in its own
    * thread and block until all are materialized. Values and plan
    * shape are identical to the lazy `.localCheckpoint(false)` the
    * call sites used before — only the materialization schedule
    * changes (overlapped instead of first-use sequential).
    */
  def materialize(dfs: DataFrame*): Seq[DataFrame] =
    run(dfs.map(df => () => df.localCheckpoint(true)))
}
