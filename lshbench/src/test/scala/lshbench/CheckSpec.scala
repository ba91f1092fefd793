package lshbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ExactNN

/** The output check must pass correct results and reject corrupted ones. */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val seed = 5L
  private val k = 10

  private def setup(n: Long) = {
    val live = new Live(seed, n)
    val rnd = new java.util.SplittableRandom(1)
    val qs = (0 until 4).map { j =>
      val v = live.vec(live.randomLive(rnd)).get
      (j.toLong, v.map(_ + (rnd.nextDouble() * 2 - 1)))
    }
    (live, qs)
  }

  /** Correct rows for `qs`: the driver's brute force over the live corpus. */
  private def truth(live: Live, qs: Seq[(Long, Array[Double])]): Seq[Check.Row] = {
    val (ids, vecs) = live.snapshot()
    val bf = new BruteForce(ids, vecs)
    qs.flatMap { case (q, v) => bf.topK(v, k).take(k).map { case (id, d) => Check.Row(q, id, d) } }
  }

  test("vectors are a pure function of (seed, id, version)") {
    val a = Gen.vector(seed, 42, 0, 100)
    assert(a.sameElements(Gen.vector(seed, 42, 0, 100)))
    assert(!a.sameElements(Gen.vector(seed + 1, 42, 0, 100)))
    assert(!a.sameElements(Gen.vector(seed, 42, 1, 100)))
    assert(a.length == Gen.Dims)
  }

  test("a correct batch passes") {
    val (live, qs) = setup(2000)
    assert(Check.batch(truth(live, qs), qs, k, live.vec).isEmpty)
  }

  test("a wrong distance is rejected") {
    val (live, qs) = setup(2000)
    val rows = truth(live, qs)
    val bad = rows.updated(3, rows(3).copy(dist = rows(3).dist + 1e-5))
    assert(Check.batch(bad, qs, k, live.vec).exists(_.contains("recomputed")))
  }

  test("a missing row, a duplicate id and a wrong order are rejected") {
    val (live, qs) = setup(2000)
    val rows = truth(live, qs)
    assert(Check.batch(rows.tail, qs, k, live.vec).exists(_.contains("rows, expected")))
    val dup = rows.updated(1, rows(0))
    assert(Check.batch(dup, qs, k, live.vec).exists(_.contains("duplicate")))
    val swapped = rows.updated(0, rows(1)).updated(1, rows(0))
    assert(Check.batch(swapped, qs, k, live.vec).exists(_.contains("ascending")))
  }

  test("a deleted id and a superseded upsert version are rejected") {
    val (live, qs) = setup(200)
    val before = truth(live, qs)
    // upsert 60 and delete 60 of the 200 ids: the old results go stale
    live.churn(new java.util.SplittableRandom(2), arrivals = 0, upserts = 60, deletes = 60)
    assert(before.exists(r => !live.isLive(r.vecId)))
    assert(before.exists(r => live.isLive(r.vecId) && live.versionOf(r.vecId) > 0))
    val bad = Check.batch(before, qs, k, live.vec)
    assert(bad.exists(_.contains("not live")))
    assert(bad.exists(_.contains("recomputed")))
  }

  test("an exact result with a non-neighbour is rejected") {
    val (live, qs) = setup(2000)
    val (ids, vecs) = live.snapshot()
    val bf = new BruteForce(ids, vecs)
    val (q, v) = qs.head
    val t = bf.topK(v, k)
    val rows = t.take(k).map { case (id, d) => Check.Row(q, id, d) }
    assert(Check.exact(q, rows, t, k).isEmpty)
    val far = ids.find(id => !t.exists(_._1 == id)).get
    assert(Check.exact(q, rows.init :+ Check.Row(q, far, 0.0), t, k).nonEmpty)
  }

  private var spark: SparkSession = _
  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("the engine's exact search passes the check; a corrupted copy does not") {
    val session = spark
    import session.implicits._
    val (live, qs) = setup(3000)
    val corpus = Gen.corpus(spark, seed, 3000)
    val got = ExactNN.topK(qs.toDF("query_id", "qv"), corpus, k).collect().toSeq
      .map(r => Check.Row(r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("dist")))
    assert(Check.batch(got, qs, k, live.vec).isEmpty)
    val corrupted = got.updated(5, got(5).copy(vecId = (got(5).vecId + 1) % 3000))
    assert(Check.batch(corrupted, qs, k, live.vec).nonEmpty)
  }
}
