package graft.eval

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.AutoTune

/** Pins the exact join semantics of the round-17 single-pass rewrites
  * of [[Eval.setPrecisionRecall]] and [[AutoTune.gradeArms]] (the old
  * forms ran three aggregates re-joined per query / two persisted
  * materializations; the rewrites are one union + keyed aggregations).
  * Every case here is a semantic edge the rewrite could have silently
  * changed: duplicate pred rows COUNT (both in hits and n_pred),
  * duplicate gt rows inflate n_gt but never multiply hits, queries
  * present on only one side DROP (the old inner join), empty
  * intersections read 0 (the old left-join fill), and gradeArms grades
  * from the GT side (an arm that returned nothing still scores 0 for
  * every gt query) with the cheapest-arm-meeting-target-else-last rule. */
class EvalGradingSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  test("setPrecisionRecall: dup pred rows count, one-sided queries drop, misses read 0") {
    // q1: pred {1,1,2}, gt {1,3}   -> n_pred=3, n_gt=2, valid=2 (dup counts)
    // q2: pred {5},     gt {}      -> dropped (no gt rows)
    // q3: pred {},      gt {7}     -> dropped (no pred rows)
    // q4: pred {8},     gt {9}     -> precision=recall=0 (miss, not dropped)
    // q5: pred {4},     gt {4,4}   -> dup GT inflates n_gt, not hits
    val pred = Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 5L), (4L, 8L),
      (5L, 4L)).toDF("query_id", "vec_id")
    val gt = Seq((1L, 1L), (1L, 3L), (3L, 7L), (4L, 9L), (5L, 4L),
      (5L, 4L)).toDF("query_id", "vec_id")
    val got = Eval.setPrecisionRecall(pred, gt)
      .orderBy("query_id")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 2.0 / 3, 1.0), // round(2/3,6)=0.666667; recall 2/2
      (4L, 0.0, 0.0),
      (5L, 1.0, 0.5)
    ).map { case (q, p, r) =>
      (q, BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble,
        BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    })
  }

  test("gradeArms: gt-side grading, dup pred rows count, choice rule incl. fallback") {
    val gt = Seq((10L, 1L), (10L, 2L), (20L, 3L)).toDF("query_id", "vec_id")
    // arm 1 answers nothing for q20 (scores 0 there); arm 2 is perfect;
    // arm 4 duplicates a hit row (counts twice in valid -> recall >1
    // before rounding is impossible here because valid<=n_gt? dup makes
    // valid=2 of n_gt=2 for q10 — same as exact; assert stability)
    val preds = Seq(
      (1, 10L, 1L),
      (2, 10L, 1L), (2, 10L, 2L), (2, 20L, 3L),
      (4, 10L, 1L), (4, 10L, 1L), (4, 10L, 2L), (4, 20L, 3L)
    ).toDF("arm", "query_id", "vec_id")
    val got = AutoTune.gradeArms(Seq(1, 2, 4), preds, gt, 0.95)
      .orderBy("arm")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    // arm1: q10 recall 0.5, q20 recall 0 -> avg 0.25 over n_queries=2
    assert(got(0) == ((1, 0.25, 2L, false)))
    // arm2 meets 0.95 first -> chosen
    assert(got(1) == ((2, 1.0, 2L, true)))
    // arm4: dup hit row makes q10 valid=3/n_gt=2 -> recall 1.5, avg 1.25
    // (the old left-semi + count form counted dup PRED rows the same
    // way); not chosen because arm2 already met the target
    assert(got(2) == ((4, 1.25, 2L, false)))
  }

  test("gradeArms: none meeting the target falls back to the last arm") {
    val gt = Seq((1L, 1L)).toDF("query_id", "vec_id")
    val preds = Seq((1, 1L, 9L), (3, 1L, 9L)).toDF("arm", "query_id", "vec_id")
    val got = AutoTune.gradeArms(Seq(1, 3), preds, gt, 0.95)
      .orderBy("arm").collect()
      .map(r => (r.getInt(0), r.getBoolean(3)))
    assert(got.toSeq == Seq((1, false), (3, true)))
  }

  test("gradeArms: empty gt yields an empty grade") {
    val gt = Seq.empty[(Long, Long)].toDF("query_id", "vec_id")
    val preds = Seq((1, 1L, 9L)).toDF("arm", "query_id", "vec_id")
    assert(AutoTune.gradeArms(Seq(1), preds, gt, 0.95).isEmpty)
  }

  test("probe dedup is array-local: searchAll candidates unchanged vs explicit dedup") {
    // the round-17 LshIndex.probedCandidates rewrite replaced the
    // (query_id, tree_id, hash) dropDuplicates Exchange with
    // array_distinct inside each query's own probe array — assert the
    // served rows equal the pre-rewrite semantics on real data (the
    // full searchAll output is already oracle-gated; this pins the
    // duplicate-probe edge directly: own-bucket == flip-neighbor
    // happens when a hash's highest set bit is its only information)
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val idx = graft.ann.lsh.Lsh.train(e, "vec_id", "embedding",
      graft.ann.lsh.LshConfig(nTrees = 6, kMinVecs = 20, seed = 3L))
    val q = e.orderBy("vec_id").limit(20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = idx.searchAll(q, 5, 1e9, graft.ann.ExactNN.L2)
    // reference: the PRE-rewrite pipeline spelled out via public
    // pieces — probeRows + explicit (query_id, tree_id, hash) dedup,
    // bucket join, candidate dedup, score, bounded top-k
    val probes = idx.model.probeRows(q, "query_id", "qv")
      .dropDuplicates("query_id", "tree_id", "hash")
    val cands = idx.buckets
      .join(broadcast(probes), Seq("tree_id", "hash"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    val scored = cands.join(idx.vectors, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(graft.ann.ExactNN.L2.dist(col("qv"), col("embedding")), 6)
          .as("dist"))
      .where(col("dist") <= 1e9)
    val ref = graft.ann.TopK.perQueryTopK(scored, 5)
    assert(served.exceptAll(ref).unionByName(ref.exceptAll(served)).isEmpty,
      "array-local probe dedup must serve the explicit-dedup rows")
    assert(served.count() > 0)
  }
}
