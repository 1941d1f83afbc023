package graft.operators

/** Overlap INDEPENDENT Spark actions from a small driver thread pool —
  * the spark_optimization_guide §2.6 recipe ("Overlap independent
  * jobs"): Spark's scheduler happily runs several jobs at once inside
  * one application; actions are sequential only because driver code
  * calls them sequentially. A store-lifecycle gate that writes a
  * postings store AND its doc-length sidecar (or six KN model tables)
  * pays each job's tail/stragglers back-to-back when the writes run
  * serially; submitted together, the next job's tasks back-fill cores
  * freed by the current job's tail.
  *
  * Correctness contract (the caller's): the actions must be mutually
  * independent — no two may write the same path, and an action reading
  * a path another is writing must be sequenced by the caller (group
  * dependent steps INSIDE one action). Shared lazy lineage (e.g. two
  * writes off one non-eager [[Reuse.truncate]]) is safe and computed
  * once: Spark's block manager computes each cached partition once
  * under a per-block write lock, so the first sink to reach a
  * partition stores it while the others overlap it and then read it
  * (ParSpec pins the once-only count).
  *
  * FIFO scheduling (the default) gives exactly the back-fill behaviour
  * wanted; job descriptions are thread-local, so each action may label
  * itself. Failures propagate: the first throwable is rethrown after
  * all actions settle (never swallowed, never deadlocked on a dead
  * sibling). If THIS thread is interrupted while waiting, the pool is
  * told to cancel its remaining work (`shutdownNow`), the still-running
  * actions are awaited so no write outlives the call, and the
  * interrupt is re-raised — the barrier holds on every exit path.
  */
object Par {
  def jobs(actions: (() => Unit)*): Unit = {
    if (actions.lengthCompare(1) <= 0) { actions.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(actions.size, 4))
    try {
      val futures = actions.map(a => pool.submit(new Runnable {
        def run(): Unit = a()
      }))
      var firstFailure: Option[Throwable] = None
      var interrupted = false
      futures.foreach { f =>
        // drain EVERY future even after a failure or an interrupt —
        // the documented barrier: no action may still be mutating a
        // store path when jobs() returns/throws
        var done = false
        while (!done) {
          try { f.get(); done = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
              done = true
            case _: java.util.concurrent.CancellationException =>
              done = true // cancelled by the interrupt path below
            case _: InterruptedException =>
              // stop scheduling queued work, interrupt running actions,
              // then KEEP WAITING for this future so in-flight writes
              // finish or abort before the barrier lifts
              interrupted = true
              pool.shutdownNow()
          }
        }
      }
      if (interrupted) {
        Thread.currentThread().interrupt() // restore the flag
        if (firstFailure.isEmpty)
          firstFailure = Some(new InterruptedException(
            "Par.jobs interrupted; remaining actions cancelled"))
      }
      firstFailure.foreach(throw _)
    } finally {
      pool.shutdown()
      // the loop above already joined every future; this wait only
      // covers pathological submit-time failures and costs ~nothing
      try pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    }
  }
}
