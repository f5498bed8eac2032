package graft.llmops

/** Run independent Spark actions from a small driver thread pool so a
  * later job's tasks back-fill executors freed by an earlier job's
  * straggler tail (the guide's §2.6 overlap pattern — actions are only
  * sequential because driver code calls them sequentially). Results
  * come back in task order; the first failure propagates with its
  * original cause. Spark's scheduler runs concurrent jobs FIFO, which
  * is exactly the back-fill behaviour wanted here.
  */
private[graft] object Par {
  def run[A](tasks: Seq[() => A], slots: Int = 4): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    if (tasks.size == 1) return Seq(tasks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(slots, tasks.size)))
    try {
      // toIndexedSeq forces strict submission: a lazy Seq (view /
      // LazyList) would interleave submits with the get() loop below
      // and silently run the tasks sequentially
      val futs = tasks.toIndexedSeq.map(t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        }))
      try futs.map(_.get())
      catch {
        // unwrap so callers see the real failure, not the pool's —
        // and cancel the siblings first. cancel(true) only interrupts
        // the driver threads: a sibling not yet started never runs,
        // but a Spark job a sibling already submitted keeps running on
        // the executors until it ends. Stopping those writes before
        // the caller sees the failure is best-effort, not guaranteed
        case e: java.util.concurrent.ExecutionException =>
          futs.foreach(_.cancel(true))
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
