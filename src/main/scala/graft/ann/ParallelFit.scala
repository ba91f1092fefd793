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
