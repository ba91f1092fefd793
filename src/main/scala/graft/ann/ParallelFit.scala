package graft.ann

/** Run `n` independent fit tasks on plain threads and PROPAGATE the
  * first failure after all complete — a bare `new Thread` swallows its
  * throwable, which for the per-subvector codebook fits meant a dead
  * thread left a null codebook slot and the job failed later with an
  * unrelated NullPointerException on the first encode (and, for the
  * per-tree LSH forest fit, a null tree that failed later with a
  * MatchError on the first hash). Used by every side-by-side fit in
  * the engine. */
object ParallelFit {
  def run(n: Int)(body: Int => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() =>
        try body(i)
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start(); t
    }
    threads.foreach(_.join())
    val e = failure.get()
    if (e != null) throw e
  }
}

/** Run independent driver-side legs (each usually a Spark action) as
  * concurrent futures and return their results in argument order. Every
  * leg SETTLES before this returns, success or failure: a fail-fast
  * `Future.sequence` would return while sibling legs still run Spark
  * jobs and write parquet in the background, so a caller's retry could
  * overlap a concurrent write to the same path. A leg is settled on ANY
  * throwable, fatal ones included — a `Future` body that throws a fatal
  * error (a StackOverflowError, say) never completes its promise, and
  * an unbounded await on it never returns. The first failure (argument
  * order) is rethrown after every leg finished. `blocking` marks the
  * nested awaits for the fork-join pool's managed blocking (bounded
  * compensation threads instead of a burst). */
object ParallelLegs {
  def apply[T](thunks: (() => T)*): Seq[T] = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val settled: Seq[Either[Throwable, T]] = blocking {
      Await.result(
        Future.sequence(thunks.map(t => Future(
          try Right(t()) catch { case e: Throwable => Left(e) }))),
        scala.concurrent.duration.Duration.Inf)
    }
    settled.collectFirst { case Left(e) => throw e }
    settled.collect { case Right(v) => v }
  }
}
