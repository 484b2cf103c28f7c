package graft

/** Run INDEPENDENT Spark actions concurrently from a bounded driver
  * thread pool (guide §2.6 "overlap independent jobs"): Spark's
  * scheduler happily runs several jobs at once inside one application
  * — tiny store commits and micro-batch writes are scheduling-
  * dominated, so two independent ones cost max() instead of sum()
  * when submitted from separate threads. FIFO scheduling keeps the
  * back-fill behaviour the guide describes.
  *
  * Failure contract: the FIRST failing action (in item order) has its
  * own exception rethrown (unwrapped from the pool's
  * ExecutionException), so call sites that catch a specific store
  * error keep working. Before it is rethrown, items that have not
  * started are cancelled and items already running are waited for:
  * no action outlives the call, so a caller that retries or resumes
  * never races a still-committing sibling.
  */
object Overlap {
  def jobs[A, B](items: Seq[A], maxThreads: Int = 4)(f: A => B): Seq[B] = {
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, maxThreads))
      try {
        val futs = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(a)
          })
        }
        try {
          futs.map { fut =>
            try fut.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          }
        } catch {
          case t: Throwable =>
            futs.foreach(_.cancel(false)) // queued items never start
            pool.shutdown()
            pool.awaitTermination(Long.MaxValue,
              java.util.concurrent.TimeUnit.NANOSECONDS)
            throw t
        }
      } finally pool.shutdown()
    }
  }

  /** Two heterogeneous independent actions; returns both results. */
  def pair[A, B](fa: => A, fb: => B): (A, B) = {
    val r = jobs(Seq(0, 1)) { i => if (i == 0) fa else fb }
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
