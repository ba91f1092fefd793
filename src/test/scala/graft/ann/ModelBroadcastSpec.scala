package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Contracts of the fit-parallelism and broadcast-memoization utilities
  * the native-expression layer rides on. */
class ModelBroadcastSpec extends AnyFunSuite with SparkSpecBase {

  test("same model instance returns the same broadcast; distinct models get distinct broadcasts") {
    // touch the session so SparkSession.active resolves
    spark.range(1).count()
    val a = Array(Array(1.0, 2.0))
    val b = Array(Array(1.0, 2.0))
    val ba1 = ModelBroadcast.of(a)
    val ba2 = ModelBroadcast.of(a)
    val bb = ModelBroadcast.of(b)
    assert(ba1 eq ba2, "repeated calls must reuse the memoized broadcast")
    assert(!(ba1 eq bb), "distinct model instances must not share a broadcast")
    assert(ba1.value eq a)
  }

  test("ParallelFit propagates a worker failure instead of leaving null results") {
    val out = new Array[String](4)
    val e = intercept[IllegalStateException] {
      ParallelFit.run(4) { i =>
        if (i == 2) throw new IllegalStateException("fit thread died")
        out(i) = s"ok$i"
      }
    }
    assert(e.getMessage === "fit thread died")
    // the surviving slots completed; the failure did not vanish
    assert(out(0) === "ok0" && out(1) === "ok1" && out(3) === "ok3")
  }

  test("parallel legs settle on a fatal error in one leg and rethrow it (QueryPack.inParallel, AutoTune)") {
    val pack = new graft.queries.QueryPack {
      override def queries: Map[String,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map.empty
      override def oracleSql: Map[String, String] = Map.empty
      def run(legs: Seq[() => Int]): Seq[Int] = inParallel(legs: _*)
    }
    /** What `f` threw (null when it returned), awaited for at most 10 s
      * on a plain thread: a hung call fails the test instead of hanging. */
    def thrownWithin(f: => Any): Throwable = {
      val done = new java.util.concurrent.CompletableFuture[Throwable]()
      val t = new Thread(() =>
        try { f; done.complete(null) } catch { case e: Throwable => done.complete(e) })
      t.setDaemon(true)
      t.start()
      done.get(10, java.util.concurrent.TimeUnit.SECONDS)
    }
    for (run <- Seq[Seq[() => Int] => Seq[Int]](pack.run, ParallelLegs(_: _*))) {
      val sibling = new java.util.concurrent.atomic.AtomicBoolean(false)
      val legs = Seq[() => Int](
        () => throw new StackOverflowError("deep leg"),
        () => { Thread.sleep(200); sibling.set(true); 2 })
      val e = thrownWithin(run(legs))
      assert(e.isInstanceOf[StackOverflowError] && e.getMessage === "deep leg", e)
      assert(sibling.get(), "returned before the sibling leg settled")
      assert(thrownWithin(assert(run(Seq(() => 1, () => 2)) === Seq(1, 2))) === null)
    }
  }

  test("ParallelFit completes all slots on success") {
    val out = new Array[Int](8)
    ParallelFit.run(8)(i => out(i) = i + 1)
    assert(out.toSeq === (1 to 8))
  }
}
