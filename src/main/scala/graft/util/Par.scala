package graft.util

/** Shared driver-side job-overlap helper (guide §2.6): run independent
  * blocking Spark actions concurrently from a DEDICATED pool — never
  * `ExecutionContext.Implicits.global`, whose fork-join workers are starved
  * by blocking actions when several overlapped builds nest (the
  * SyncPipeline-seed × BM25-build shape) — and settle EVERY branch before
  * rethrowing the first failure, so a failing branch never abandons a
  * sibling's in-flight write (a retry into the same staging directory would
  * race the orphan's `_temporary` output). Pool threads are created by the
  * calling thread, so they inherit its Spark local properties (job group,
  * streaming query id).
  */
object Par {

  /** Run `tasks` concurrently, one thread each (a single task runs on the
    * calling thread); every task settles before the first failure (if any)
    * is rethrown. Results keep the order of `tasks`.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val settled = tasks.map(t => Future(t())).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        settled.collectFirst { case scala.util.Failure(e) => throw e }
        settled.map(_.get)
      } finally pool.shutdown()
    }

  /** [[all]] of two differently-typed tasks. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
