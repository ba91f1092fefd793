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
    val old = Seq("hashed", "hashed_delta", "tombstones")
    old.foreach(d => assert(LsmTestKit.exists(s"$path/$d"),
      s"$d deleted under the previous snapshot"))
    batch(m, 485)
    old.foreach(d => assert(!LsmTestKit.exists(s"$path/$d"), s"superseded $d kept"))
    // the frozen model is not superseded: every manifest names it
    assert(LsmTestKit.exists(s"$path/model"), "the frozen model was deleted")
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
      model.hashedRows(a, "vec_id", "embedding").withColumn("seq", lit(seq))
        .write.mode("append").parquet(s"$path/hashed_delta")
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

  test("compaction keeps the frozen model: its dir stays named and unchanged; refit writes a new one") {
    val path = store("lsm_commit_model")
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    def modelDir = LsmTestKit.manifest(spark, path).base("model")
    def listing(dir: String) = {
      val root = java.nio.file.Paths.get(dir)
      val files = java.nio.file.Files.walk(root).filter(java.nio.file.Files.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString)
      files.map(f => root.relativize(f).toString ->
        java.nio.file.Files.getLastModifiedTime(f).toMillis).toSeq
    }
    val before = modelDir
    val files = listing(before)
    batch(m, 480, 3L)
    m.compactNow()
    assert(modelDir === before, "compaction moved the model")
    assert(!new java.io.File(s"$path/${LsmTestKit.manifest(spark, path).logs}/model")
      .exists(), "compaction wrote a model")
    val view = rows(m.index)
    val viewIds = ids(m.index)
    batch(m, 485, 5L)
    assert(modelDir === before && listing(before) === files,
      "the model dir changed or went")
    // the store at rest serves the compacted view's rows
    val atRest = Lsh.load(spark, path)
    assert(rows(atRest) === view && ids(atRest) === viewIds)
    m.refitNow(LshConfig(nTrees = 4, kMinVecs = 40, seed = 8L))
    assert(modelDir !== before, "refit kept the old model")
    assert(rows(Lsh.load(spark, path)) === rows(m.index))
  }

  test("a two-table store gets a named error from Lsh.load and LshMaintainer, and is left as it was") {
    val root = java.nio.file.Files.createTempDirectory("lsm_two_table").toString
    val idx = Lsh.train(emb.where($"vec_id" < 100), "vec_id", "embedding",
      LshConfig(nTrees = 2, kMinVecs = 40, seed = 7L))
    // the layout earlier builds wrote: model/, vectors/, buckets/
    val path = s"$root/idx"
    idx.model.save(spark, s"$path/model")
    idx.vectors.write.parquet(s"$path/vectors")
    idx.buckets.write.partitionBy("tree_id").parquet(s"$path/buckets")
    // and its labeled layout: the same plus the (label, tree_id, hash,
    // vec_id) buckets partitioned by label and tree, the label-partitioned
    // centroid sidecar and labeled_meta/
    val labeled = s"$root/labeled"
    val lidx = idx.withLabels(emb.where($"vec_id" < 100)
      .select($"vec_id", pmod($"vec_id", lit(3)).cast("string").as("label")))
    idx.model.save(spark, s"$labeled/model")
    idx.vectors.write.parquet(s"$labeled/vectors")
    lidx.labeledBuckets.write.partitionBy("label", "tree_id")
      .parquet(s"$labeled/buckets")
    lidx.bucketCentroids.write.partitionBy("label").parquet(s"$labeled/centroids")
    Seq(1).toDF("centroid_trees").write.parquet(s"$labeled/labeled_meta")
    def listing(p: String) = new java.io.File(p).list().sorted.toSeq
    for ((p, opens) <- Seq(
        path -> Seq[() => Any](() => Lsh.load(spark, path),
          () => new LshMaintainer(spark, path)),
        labeled -> Seq[() => Any](() => LabeledLshIndex.load(spark, labeled),
          () => new LabeledLshMaintainer(spark, labeled)))) {
      val listed = listing(p)
      for (open <- opens) {
        val e = intercept[IllegalStateException](open())
        assert(e.getMessage.contains("two-table layout") &&
          e.getMessage.contains("hashed/"), e.getMessage)
      }
      assert(listing(p) === listed, s"opening the old store $p changed it")
    }
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
