package graft.ann.lsh

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{LsmTestKit, SparkSpecBase}
import graft.ann.ExactNN

/** The one LSM commit ([[graft.ann.LsmStore]]): every commit writes new
  * files under fresh names and publishes the next manifest, so a view
  * keeps its snapshot through one further commit, superseded files go
  * one commit later, and a store of the rename-swap format converts to
  * manifest 0 serving what it served before. */
class LsmCommitSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    .select($"vec_id", $"embedding")
  private lazy val queries = emb.where($"vec_id" < 8)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  /** A fresh store over ids < 480 (a small multi-leaf forest). */
  private def store(tag: String): String = {
    val path = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
    Lsh.train(emb.where($"vec_id" < 480), "vec_id", "embedding",
      LshConfig(nTrees = 4, kMinVecs = 40, seed = 7L)).save(spark, path)
    path
  }

  private def rows(i: LshIndex): Seq[(Long, Long, Double)] =
    i.searchAll(queries, 5, 1e9, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def ids(i: LshIndex): Set[Long] =
    i.vectors.select("vec_id").as[Long].collect().toSet

  private def batch(m: LshMaintainer, from: Int, dead: Long*): Unit =
    m.onBatch(Some(emb.where($"vec_id".between(from, from + 4))),
      Some(dead.toDF("vec_id")))

  test("a view built before compactNow and collected after it returns the pre-compaction rows") {
    val path = store("lsm_commit_view")
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    batch(m, 480, 3L, 11L)
    val want = rows(m.index)
    val wantIds = ids(m.index)
    val view = m.index
    m.compactNow()
    assert(rows(view) === want, "the pre-compaction view changed")
    assert(ids(view) === wantIds)
    // a view built before a plain batch keeps its snapshot too
    val view2 = m.index
    batch(m, 485, 5L)
    assert(ids(view2) === wantIds)
    assert(ids(m.index) === wantIds - 5L ++ (485L to 489L))
  }

  test("after one further onBatch the superseded generation and the dropped manifests are gone") {
    val path = store("lsm_commit_retention")
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    batch(m, 480, 3L)
    m.compactNow()
    val g1 = LsmTestKit.manifest(spark, path)
    val old = Seq("model", "vectors", "buckets", "vectors_delta",
      "buckets_delta", "tombstones")
    old.foreach(d => assert(LsmTestKit.exists(s"$path/$d"),
      s"$d deleted under the previous snapshot"))
    batch(m, 485)
    old.foreach(d => assert(!LsmTestKit.exists(s"$path/$d"), s"superseded $d kept"))
    val manifests = new java.io.File(s"$path/_lsm").list().filter(_.forall(_.isDigit))
    assert(manifests.map(_.toInt).sorted.toSeq ===
      Seq(g1.n, LsmTestKit.manifest(spark, path).n), "dropped manifests kept")
    // the next compaction supersedes g1's whole generation, which goes
    // at the commit after it
    m.compactNow()
    assert(LsmTestKit.exists(s"$path/${g1.logs}"))
    batch(m, 490)
    assert(!LsmTestKit.exists(s"$path/${g1.logs}"), "superseded generation kept")
    assert(ids(m.index) === ((0L until 495L).toSet - 3L))
    assert(ids(Lsh.load(spark, path)) === ((0L until 490L).toSet - 3L))
  }

  test("a rename-swap store with a commit log, fence and drift-breach marker converts with the same rows and counters") {
    val path = store("lsm_commit_convert")
    val model = LshModel.load(spark, s"$path/model")
    // root logs in onBatch's format: seq 1 was folded (at the fence),
    // seq 2 committed, seq 3 a partial batch with no commit record
    def log(from: Int, to: Int, dead: Long, seq: Int): Unit = {
      val a = emb.where($"vec_id".between(from, to))
      a.withColumn("seq", lit(seq))
        .write.mode("append").parquet(s"$path/vectors_delta")
      model.transform(a, "vec_id", "embedding")
        .select($"tree_id", $"hash", $"vec_id", lit(seq).as("seq"))
        .write.mode("append").parquet(s"$path/buckets_delta")
      Seq((dead, seq)).toDF("vec_id", "seq")
        .write.mode("append").parquet(s"$path/tombstones")
    }
    log(480, 480, 3L, 1)
    log(481, 482, 11L, 2)
    log(483, 483, 5L, 3)
    Seq(0, 1, 2).toDF("seq").write.parquet(s"$path/batch_commits")
    LsmTestKit.write(s"$path/_lsm_fence", "1")
    LsmTestKit.write(s"$path/_drift_breaches", "2")
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    assert(ids(m.index) === ((0L until 480L).toSet - 11L + 481L + 482L),
      "converted store serves other rows")
    assert(m.batchesSeen === 3 && m.driftBreaches === 2)
    val m0 = LsmTestKit.manifest(spark, path)
    assert(m0.n === 0 && m0.fence === 1 && m0.commits === Seq(2))
    Seq("batch_commits", "_lsm_fence", "_drift_breaches").foreach(f =>
      assert(!LsmTestKit.exists(s"$path/$f"), s"$f kept after conversion"))
    // and it keeps maintaining: the next batch lands at seq 4
    batch(m, 485, 7L)
    assert(m.batchesSeen === 4)
    assert(ids(new LshMaintainer(spark, path, compactEvery = 100).index) ===
      ((0L until 480L).toSet - 11L - 7L ++ Set(481L, 482L) ++ (485L to 489L)))
  }

  test("an unfinished rename-swap commit gets a named error") {
    val path = store("lsm_commit_precommit")
    LsmTestKit.write(s"$path/_lsm_precommit", "1\n_compact_tmp/vectors>vectors")
    val e = intercept[IllegalStateException](
      new LshMaintainer(spark, path, compactEvery = 100))
    assert(e.getMessage.contains("_lsm_precommit") &&
      e.getMessage.contains("previous build"), e.getMessage)
  }

  test("a second writer extending a superseded snapshot gets a named error") {
    val path = store("lsm_commit_writers")
    val a = new LshMaintainer(spark, path, compactEvery = 100)
    val b = new LshMaintainer(spark, path, compactEvery = 100)
    batch(a, 480)
    // b still extends the snapshot a superseded
    val e = intercept[IllegalStateException](batch(b, 485))
    assert(e.getMessage.contains("another writer"), e.getMessage)
    assert(ids(a.index) === ((0L until 485L).toSet))
  }
}
