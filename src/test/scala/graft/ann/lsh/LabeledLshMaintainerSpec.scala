package graft.ann.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN

/** [[LabeledLshMaintainer]] — the stored labeled index under streaming
  * upserts/deletes. Contracts:
  *
  *   - the LSM view == the in-memory lifecycle chain
  *     ([[LabeledLshIndex.append]]/[[LabeledLshIndex.withDeletes]])
  *     applying the same ops, and (single-leaf forest: per-label
  *     candidates are total) == exact top-k over each label's live
  *     subset;
  *   - a same-batch delete+re-add is an upsert even when the RE-ADD
  *     CHANGES THE LABEL: the old row dies with its labels, the new
  *     label's row serves — the strictly-earlier tombstone rule on the
  *     labeled table;
  *   - the sidecar-staleness boundary is the compaction cadence: an
  *     arrival OPENING a (label, bucket) pair is unreachable until the
  *     compaction that refreshes the persisted sidecar, an arrival
  *     into an already-probed pair serves immediately (the
  *     [[LabeledLshIndex.append]] directory rule, made crash-safe);
  *   - a reconstructed maintainer recovers the LSM seq;
  *   - [[LabeledLshMaintainer.refitNow]] retrains the forest, rehashes
  *     the live rows with their labels, and the refit store serves
  *     each label's live subset exactly;
  *   - malformed labels (NULL or unknown query labels, NULL stored
  *     labels, a NULL labels array) serve empty or leave the row
  *     unlabeled, never an error, and a multi-label arrival is one row
  *     serving under each of its labels.
  */
class LabeledLshMaintainerSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    .select($"vec_id", $"embedding")

  // single leaf per tree isolates lifecycle semantics from recall
  private val cfg = LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L)

  private def labelOf = pmod($"vec_id", lit(3)).cast("string")

  private def served(idx: LabeledLshIndex, queries: DataFrame)
      : Set[(Long, Long, Double)] =
    idx.searchAllLabeled(queries, 5, 1e9, ExactNN.L2)
      .select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect().toSet

  test("LSM view == in-memory chain == exact per label; label-changing upsert") {
    val base = emb.where($"vec_id" < 480)
    val baseLabels = base.select($"vec_id", labelOf.as("label"))
    val path = java.nio.file.Files
      .createTempDirectory("labeled_lsm").toString + "/idx"
    val idx0 = Lsh.train(base, "vec_id", "embedding", cfg)
    idx0.withLabels(baseLabels).save(spark, path)
    val m = new LabeledLshMaintainer(spark, path, compactEvery = 100)

    val v480 = emb.where($"vec_id" === 480L)
      .select($"embedding").as[Seq[Float]].head()
    val adds1 = emb.where($"vec_id" >= 480L && $"vec_id" < 490L)
      .select($"vec_id", $"embedding", labelOf.as("label"))
    // batch 1: add 480-489 (labels vec_id % 3), delete {5, 12}
    m.onBatch(Some(adds1), Some(Seq(5L, 12L).toDF("vec_id")))
    // batch 2: UPSERT id 7 with a CHANGED label — 7 was label "1"
    // (7 % 3), re-added under label "0" at vec 480's embedding
    m.onBatch(Some(Seq((7L, v480, "0")).toDF("vec_id", "embedding", "label")),
      Some(Seq(7L).toDF("vec_id")))

    // in-memory twin over the deterministically rebuilt base store
    val twin = Lsh.train(base, "vec_id", "embedding", cfg)
      .withLabels(baseLabels)
      .withDeletes(Seq(5L, 12L).toDF("vec_id"))
      .append(adds1)
      .withDeletes(Seq(7L).toDF("vec_id"))
      .append(Seq((7L, v480, "0")).toDF("vec_id", "embedding", "label"))

    val queries = emb.where($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        labelOf.as("label"))
    // the twin's sidecar is the base one (append keeps it by contract);
    // the maintainer's is the persisted base one — same staleness, so
    // rows must agree exactly
    assert(served(m.index, queries) === served(twin, queries),
      "LSM view != in-memory chain")

    // the label-changing upsert: 7 serves under label "0" only
    val labRows = m.index.labeledBuckets.where($"vec_id" === 7L)
      .select($"label").distinct().as[String].collect().toSet
    assert(labRows === Set("0"), s"upsert label rows: $labRows")

    // post-compaction (sidecar refreshed): view == exact per label
    m.compactNow()
    val live = base
      .where(!$"vec_id".isin(5L, 12L, 7L))
      .unionByName(emb.where($"vec_id" >= 480L && $"vec_id" < 490L))
      .select($"vec_id", $"embedding", labelOf.as("label"))
      .unionByName(Seq((7L, v480, "0")).toDF("vec_id", "embedding", "label"))
    val exact = queries.select($"query_id", $"qv", $"label").as("q")
      .collect().map(_.getLong(0)).toSet // force materialization order
    val gt = live.as("c")
      .join(broadcast(queries), $"c.label" === queries("label"))
      .select($"query_id", $"c.vec_id".as("vec_id"),
        round(ExactNN.L2.dist($"qv", $"c.embedding"), 6).as("dist"))
    val gtTop = graft.ann.TopK.perQueryTopK(gt, 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(served(m.index, queries) === gtTop,
      "post-compaction view != exact per label")
    assert(graft.LsmTestKit.manifest(spark, path).logs != ".",
      "logs survived compaction")
    // the superseded logs go at the next commit
    m.onBatch(None, None)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "logs survived the commit after the compaction")
  }

  test("sidecar staleness boundary == compaction cadence; restart recovers seq") {
    val base = emb.where($"vec_id" < 480)
    val baseLabels = base.select($"vec_id", labelOf.as("label"))
    val path = java.nio.file.Files
      .createTempDirectory("labeled_stale").toString + "/idx"
    Lsh.train(base, "vec_id", "embedding", cfg)
      .withLabels(baseLabels).save(spark, path)
    val m = new LabeledLshMaintainer(spark, path, compactEvery = 100)

    val v480 = emb.where($"vec_id" === 480L)
      .select($"embedding").as[Seq[Float]].head()
    // one arrival under a BRAND-NEW label "9" (opens (9, bucket)) and
    // one under existing label "0" into the already-probed bucket
    m.onBatch(Some(Seq((480L, v480, "9"), (481L, v480, "0"))
      .toDF("vec_id", "embedding", "label")), None)

    // query AT the arrival's embedding: its nearest neighbour IS the
    // arrival (dist 0), so reachability — not ranking — is what the
    // top-k assertion reads
    def q(label: String) = emb.where($"vec_id" === 480L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        lit(label).as("label"))
    // existing-label arrival serves immediately…
    assert(served(m.index, q("0")).exists(_._2 == 481L),
      "existing-label arrival did not serve pre-compaction")
    // …the new label's is unreachable until the sidecar refresh
    assert(served(m.index, q("9")).isEmpty,
      "new-label arrival served from a sidecar that cannot rank it")
    m.compactNow()
    assert(served(m.index, q("9")).map(_._2) === Set(480L),
      "new label not served after the compaction refresh")

    // restart: a new maintainer recovers the seq (fence-aware)
    val m2 = new LabeledLshMaintainer(spark, path, compactEvery = 100)
    assert(m2.batchesSeen === m.batchesSeen,
      s"seq not recovered: ${m2.batchesSeen} != ${m.batchesSeen}")
    // and the tombstone ordering survives the restart: delete then
    // re-add under a fresh seq serves again
    m2.onBatch(None, Some(Seq(480L).toDF("vec_id")))
    assert(served(m2.index, q("9")).isEmpty)
    m2.onBatch(Some(Seq((480L, v480, "9")).toDF("vec_id", "embedding", "label")),
      None)
    assert(served(m2.index, q("9")).map(_._2) === Set(480L),
      "re-added id killed by a pre-restart tombstone")
  }

  test("refitNow retrains, rebuilds the label partitions, and serves each label exactly") {
    val base = emb.where($"vec_id" < 300)
    val baseLabels = base.select($"vec_id", labelOf.as("label"))
    val path = java.nio.file.Files
      .createTempDirectory("labeled_refit").toString + "/idx"
    Lsh.train(base, "vec_id", "embedding", cfg)
      .withLabels(baseLabels).save(spark, path)
    val m = new LabeledLshMaintainer(spark, path, compactEvery = 100)
    m.onBatch(Some(emb.where($"vec_id" >= 300 && $"vec_id" < 500)
        .select($"vec_id", $"embedding", labelOf.as("label"))),
      Some(Seq(5L, 12L).toDF("vec_id")))
    m.refitNow(cfg)
    assert(graft.LsmTestKit.manifest(spark, path).logs != ".",
      "logs survived refit")
    val queries = emb.where($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        labelOf.as("label"))
    val live = emb.where($"vec_id" < 500 && !$"vec_id".isin(5L, 12L))
      .select($"vec_id", $"embedding", labelOf.as("label"))
    val gt = live.as("c")
      .join(broadcast(queries), $"c.label" === queries("label"))
      .select($"query_id", $"c.vec_id".as("vec_id"),
        round(ExactNN.L2.dist($"qv", $"c.embedding"), 6).as("dist"))
    val gtTop = graft.ann.TopK.perQueryTopK(gt, 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(served(m.index, queries) === gtTop,
      "refit store != exact per label")
    // the superseded logs go at the next commit
    m.onBatch(None, None)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "logs survived the commit after the refit")
  }

  test("malformed labels: one table over withLabels, append, onBatch and searchAllLabeled") {
    val base = emb.where($"vec_id" < 480)
    // vec 0 has a NULL label; vec 1 two labels, "1" and "0"
    val labels = base.select($"vec_id",
        when($"vec_id" === 0L, lit(null).cast("string")).otherwise(labelOf)
          .as("label"))
      .unionByName(Seq((1L, "0")).toDF("vec_id", "label"))
    val built = Lsh.train(base, "vec_id", "embedding", cfg).withLabels(labels)
    val path = java.nio.file.Files
      .createTempDirectory("labeled_malformed").toString + "/idx"
    built.save(spark, path)
    val m = new LabeledLshMaintainer(spark, path, compactEvery = 100)
    def vecOf(id: Long) = emb.where($"vec_id" === id)
      .select($"embedding").as[Seq[Float]].head()
    // 900 arrives with a NULL label (at vec 480's embedding); 901 is a
    // multi-label arrival, one row per label (at vec 481's)
    val arrivals = Seq((900L, vecOf(480L), null: String),
        (901L, vecOf(481L), "0"), (901L, vecOf(481L), "2"))
      .toDF("vec_id", "embedding", "label")
    val appended = built.append(arrivals)
    m.onBatch(Some(arrivals), None)
    val viaBatch = m.index
    // a NULL labels array on vec 2 (label "2")
    val nullArray = new LabeledLshIndex(
      new LshIndex(built.model, built.index.hashed.withColumn("labels",
        when($"vec_id" === 2L, lit(null)).otherwise($"labels"))),
      built.centroidTrees, Some(built.bucketCentroids))

    // a query at a vector's embedding: if that vector is a candidate,
    // it is served (distance 0; the single-leaf forest makes every row
    // of the label a candidate)
    def at(vec: Long, label: String): DataFrame = emb.where($"vec_id" === vec)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        lit(label).cast("string").as("label"))
    def labeledIds(s: LabeledLshIndex, q: DataFrame): Set[Long] =
      s.searchAllLabeled(q, 5, 1e9, ExactNN.L2)
        .select("vec_id").as[Long].collect().toSet
    def unlabeledIds(s: LabeledLshIndex, q: DataFrame): Set[Long] =
      s.index.searchAll(q.drop("label"), 5, 1e9, ExactNN.L2)
        .select("vec_id").as[Long].collect().toSet

    val stores = Seq("withLabels" -> built, "append" -> appended,
      "onBatch" -> viaBatch)
    // (case, stores, query at, query label, id, served under the label)
    val table: Seq[(String, Seq[(String, LabeledLshIndex)], Long, String,
        Long, Boolean)] = Seq(
      ("labeled row (control)", stores, 3L, "0", 3L, true),
      ("NULL query label", stores, 3L, null, 3L, false),
      ("label the store does not have", stores, 3L, "zz", 3L, false),
      ("NULL stored label", stores, 0L, "0", 0L, false),
      ("multi-label row, first label", stores, 1L, "1", 1L, true),
      ("multi-label row, second label", stores, 1L, "0", 1L, true),
      ("NULL label arrival", stores.tail, 480L, "0", 900L, false),
      ("multi-label arrival, first label", stores.tail, 481L, "0", 901L, true),
      ("multi-label arrival, second label", stores.tail, 481L, "2", 901L, true),
      ("multi-label arrival, a label it lacks", stores.tail, 481L, "1", 901L, false),
      ("NULL labels array", Seq("nullArray" -> nullArray), 2L, "2", 2L, false),
      ("NULL labels array (control)", Seq("nullArray" -> nullArray), 5L, "2", 5L, true))
    for ((what, on, vec, label, id, served) <- table; (name, s) <- on) {
      val got = labeledIds(s, at(vec, label))
      assert(got.contains(id) === served, s"$what on $name: served $got")
      // a query label no row carries serves empty, not an error
      if (label == null || label == "zz")
        assert(got.isEmpty, s"$what on $name: served $got")
    }
    // a row without labels is in no label's buckets but is still served
    // by the unlabeled search over the same table
    for ((name, s, vec, id) <- Seq(("withLabels", built, 0L, 0L),
        ("append", appended, 480L, 900L), ("onBatch", viaBatch, 480L, 900L),
        ("nullArray", nullArray, 2L, 2L))) {
      assert(s.labeledBuckets.where($"vec_id" === id).isEmpty,
        s"$name: row $id has label buckets")
      assert(unlabeledIds(s, at(vec, "0")).contains(id),
        s"$name: row $id not served by the unlabeled search")
    }
    // a multi-label arrival is one row of the table
    for ((name, s) <- stores.tail)
      assert(s.index.hashed.where($"vec_id" === 901L).count() === 1L,
        s"$name: multi-label arrival is not one row")
  }
}
