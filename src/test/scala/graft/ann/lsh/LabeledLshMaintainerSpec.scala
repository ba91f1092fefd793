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
  *     CHANGES THE LABEL: the old label's composite rows die, the new
  *     label's row serves — the strictly-earlier tombstone rule on the
  *     composite store;
  *   - the sidecar-staleness boundary is the compaction cadence: an
  *     arrival OPENING a (label, bucket) pair is unreachable until the
  *     compaction that refreshes the persisted sidecar, an arrival
  *     into an already-probed pair serves immediately (the
  *     [[LabeledLshIndex.append]] directory rule, made crash-safe);
  *   - a reconstructed maintainer recovers the LSM seq;
  *   - [[LabeledLshMaintainer.refitNow]] retrains the forest, rebuilds
  *     the label partitions from the live (vec_id, label) pairs, and
  *     the refit store serves each label's live subset exactly.
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
}
