package graft.llmops

import org.apache.spark.sql.SparkSession

/** Run independent Spark actions from a small driver thread pool so a
  * later job's tasks back-fill executors freed by an earlier job's
  * straggler tail (the guide's §2.6 overlap pattern — actions are only
  * sequential because driver code calls them sequentially). Results
  * come back in task order; the first failure cancels the siblings,
  * their running Spark jobs included, and propagates with its
  * original cause. Spark's scheduler runs concurrent jobs FIFO, which
  * is exactly the back-fill behaviour wanted here.
  */
private[graft] object Par {
  def run[A](tasks: Seq[() => A], slots: Int = 4): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    if (tasks.size == 1) return Seq(tasks.head())
    // Every job the tasks start carries one tag, added on the pool
    // thread. Tags are additive: a caller's own job group still applies.
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(slots, tasks.size)))
    // hands back futures as they finish, so a failure surfaces at once
    // rather than after the tasks before it in order
    val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
    try {
      // toIndexedSeq forces strict submission: a lazy Seq (view /
      // LazyList) would interleave submits with the take() loop below
      // and silently run the tasks sequentially
      val futs = tasks.toIndexedSeq.map(t =>
        done.submit(new java.util.concurrent.Callable[A] {
          def call(): A = { sc.addJobTag(tag); t() }
        }))
      try { futs.foreach(_ => done.take().get()); futs.map(_.get()) }
      catch {
        // unwrap so callers see the real failure, not the pool's —
        // and cancel the siblings first: cancel(true) drops the ones
        // not yet started and interrupts the driver threads of the
        // rest; cancelJobsWithTag kills the Spark jobs they already
        // submitted, which would otherwise run on until they end
        case e: java.util.concurrent.ExecutionException =>
          futs.foreach(_.cancel(true))
          sc.cancelJobsWithTag(tag)
          throw e.getCause
      }
    } finally {
      // shutdownNow (not shutdown) so queued never-started tasks are
      // dropped on the failure path; on success it is a no-op. The
      // bounded await keeps a wedged task from hanging the caller.
      pool.shutdownNow()
      try pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      catch { // must not mask the real failure from the try block
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }
  }
}
