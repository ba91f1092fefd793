package graft.ann.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.{ExactNN, FilteredSearch}
import graft.ann.ivf.{Ivf, IvfConfig}

/** Allow-scoped centroid probing ([[LshIndex.scopedTo]] /
  * `IvfIndex.scopedTo` → `searchAllScoped`, and the `scopedFallback`
  * serve policy on `searchAllFiltered`) — the round-17 SERVE-TIME
  * in-family remediation for the starved/bimodal regimes under an
  * ARBITRARY predicate (no label column, no store rebuild). Contracts:
  *
  *   - IDENTITY with the labeled store: when the allow-list equals a
  *     label's row set, `searchAllScoped` serves row-identically to
  *     the label-partitioned store's `searchAllLabeled` — the scoped
  *     view IS the labeled store on one transient label, so the
  *     measured 1M recovery curves carry over (both families);
  *   - RECOVERY on the [[LabeledBucketSpec]] starved-large geometry,
  *     where probe-then-filter collapses and the dispatch could
  *     previously only warn;
  *   - served rows are allowed-only by construction;
  *   - `scopedFallback = true` upgrades EXACTLY the
  *     `probe_starved`/bimodal decisions to the scoped serve (pinned
  *     via forced decisions, both families) and leaves the dense and
  *     exact routes byte-identical to the default serve.
  */
class ScopedBucketSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private val K = 5

  // the LabeledBucketSpec geometry: 200 clusters x 10 points, 32-d;
  // cluster-level predicates make every allow-list a geometric region
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(200)(Array.fill(32)(rnd.nextGaussian()))
    (0 until 2000).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()
  }

  // the ~17% starved-large arm: cluster % 6 == 0 (above the 15%
  // auto-exact ceiling, correlated with geometry)
  private def starvedPred = pmod(($"vec_id" / 10).cast("long"), lit(6)) === 0
  private lazy val allowed6 = corpus.where(starvedPred).select("vec_id")
    .localCheckpoint()

  private lazy val idx = Lsh.train(corpus, "vec_id", "embedding",
    LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
  private lazy val ivf = Ivf.train(corpus, "vec_id", "embedding",
    IvfConfig(nCells = 200, nProbe = 8, seed = 5L))

  private lazy val queries: DataFrame =
    corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .localCheckpoint()

  private def recallOf(pred: DataFrame, gt: DataFrame): Double =
    graft.eval.Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
        gt.select("query_id", "vec_id"))
      .agg(avg("recall")).as[Double].head()

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect().toSet

  test("scoped serving recovers the starved-large arm where probe-then-filter collapses") {
    val gt = ExactNN.topK(queries, corpus.where(starvedPred), K,
      ExactNN.Cosine).localCheckpoint()
    val probeRec = recallOf(
      idx.searchAll(queries, K, Double.MaxValue, ExactNN.Cosine,
        allowed = Some(allowed6)), gt)
    val scopedRec = recallOf(
      idx.searchAllScoped(queries, allowed6, K, Double.MaxValue,
        ExactNN.Cosine), gt)
    info(f"starved-large: probe=$probeRec%.3f scoped=$scopedRec%.3f")
    assert(probeRec < 0.8, f"arm not collapsed ($probeRec%.3f) — geometry drifted")
    assert(scopedRec >= 0.95, f"scoped recall $scopedRec%.3f below bar")
    assert(scopedRec >= probeRec + 0.2, "scoped must beat probe widely")
  }

  test("scoped == labeled serving when the allow-list equals a label subset (both families)") {
    val labels6 = corpus.select($"vec_id",
      pmod(($"vec_id" / 10).cast("long"), lit(6)).cast("string").as("label"))
    val qLab = queries.withColumn("label", lit("0"))
    val lshLabeled = idx.withLabels(labels6)
      .searchAllLabeled(qLab, K, Double.MaxValue, ExactNN.Cosine)
    val lshScoped = idx.searchAllScoped(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine)
    assert(rows(lshScoped) === rows(lshLabeled),
      "LSH scoped serve diverged from the labeled store on the same mass")
    val ivfLabeled = ivf.withLabels(labels6)
      .searchAllLabeled(qLab, K, ExactNN.L2)
    val ivfScoped = ivf.searchAllScoped(queries, allowed6, K, ExactNN.L2)
    assert(rows(ivfScoped) === rows(ivfLabeled),
      "IVF scoped serve diverged from the labeled store on the same mass")
  }

  test("scoped results are allowed-only, duplicate allow rows collapse") {
    val served = idx.searchAllScoped(queries,
      allowed6.unionByName(allowed6), K, Double.MaxValue, ExactNN.Cosine)
    val allowedIds = allowed6.as[Long].collect().toSet
    assert(served.select("vec_id").as[Long].collect()
      .forall(allowedIds.contains), "a disallowed row served")
    assert(served.count() ===
      served.dropDuplicates("query_id", "vec_id").count(),
      "duplicate allow rows produced duplicate served rows")
    assert(rows(served) ===
      rows(idx.searchAllScoped(queries, allowed6, K, Double.MaxValue,
        ExactNN.Cosine)))
  }

  test("scopedFallback upgrades exactly the starved/bimodal routes (LSH)") {
    // the real starved-large geometry routes probe_starved — assert it,
    // then pin that the fallback serve IS the scoped serve
    val d = idx.filteredDecision(queries, allowed6, K,
      metric = ExactNN.Cosine)
    assert(d.route === FilteredSearch.ProbeStarved,
      s"geometry drifted: expected probe_starved, got ${d.route.name}")
    val fallback = idx.searchAllFiltered(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine, decision = Some(d),
      scopedFallback = true)
    val scoped = idx.searchAllScoped(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine)
    assert(rows(fallback) === rows(scoped))
    // a TUNED budget (the q_autotune_scoped_m operating point) threads
    // through the dispatch path
    assert(rows(idx.searchAllFiltered(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine, decision = Some(d),
      scopedFallback = true, scopedMaxProbeBuckets = 8)) ===
      rows(idx.searchAllScoped(queries, allowed6, K, Double.MaxValue,
        ExactNN.Cosine, maxProbeBuckets = 8)),
      "scopedMaxProbeBuckets did not thread to the upgraded serve")
    // a forced BIMODAL decision (route probe, quartile < k) upgrades too
    val bimodal = FilteredSearch.Decision(2000L, 334L, Some(K + 3.0),
      FilteredSearch.Probe, Some(K - 3.0))
    assert(bimodal.bimodalStarved(K))
    assert(rows(idx.searchAllFiltered(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine, decision = Some(bimodal),
      scopedFallback = true)) === rows(scoped))
    // a DENSE probe decision must NOT upgrade: fallback == default serve
    val dense = FilteredSearch.Decision(2000L, 334L, Some(K + 3.0),
      FilteredSearch.Probe, Some(K + 3.0))
    assert(rows(idx.searchAllFiltered(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine, decision = Some(dense),
      scopedFallback = true)) ===
      rows(idx.searchAllFiltered(queries, allowed6, K, Double.MaxValue,
        ExactNN.Cosine, decision = Some(dense))))
    // the exact routes are untouched by the flag
    val exact = FilteredSearch.Decision(2000L, 334L, None,
      FilteredSearch.ExactSelectivity)
    assert(rows(idx.searchAllFiltered(queries, allowed6, K,
      Double.MaxValue, ExactNN.Cosine, decision = Some(exact),
      scopedFallback = true)) ===
      rows(ExactNN.topK(queries, corpus.where(starvedPred), K,
        ExactNN.Cosine, threshold = Some(Double.MaxValue))))
  }

  test("scopedMSharedPreds: every arm row-identical to the per-arm serve") {
    val store = idx.scopedTo(allowed6)
    val qs = queries.withColumn("label", lit(FilteredSearch.ScopedLabel))
    val arms = Seq(4, 16, 64)
    val preds = graft.ann.AutoTune.scopedMSharedPreds(store, qs, K,
      Double.MaxValue, arms, ExactNN.Cosine)
    for (m <- arms) {
      val shared = preds.where($"arm" === m)
        .select("query_id", "vec_id", "dist")
      val direct = store.searchAllLabeled(qs, K, Double.MaxValue,
        ExactNN.Cosine, maxProbeBuckets = m)
      assert(rows(shared) === rows(direct),
        s"shared-probes arm M=$m diverged from the per-arm serve")
    }
  }

  test("empty allow-list serves empty, not an error (both families)") {
    val none = corpus.where(lit(false)).select("vec_id")
    assert(idx.searchAllScoped(queries, none, K, Double.MaxValue,
      ExactNN.Cosine).count() === 0L)
    assert(ivf.searchAllScoped(queries, none, K, ExactNN.L2)
      .count() === 0L)
  }

  test("scopedFallback upgrades the starved route (IVF)") {
    val starved = FilteredSearch.Decision(2000L, 334L, Some(1.0),
      FilteredSearch.ProbeStarved)
    val fallback = ivf.searchAllFiltered(queries, allowed6, K, ExactNN.L2,
      decision = Some(starved), scopedFallback = true)
    assert(rows(fallback) ===
      rows(ivf.searchAllScoped(queries, allowed6, K, ExactNN.L2)))
    // without the flag the same decision serves the probe path
    assert(rows(ivf.searchAllFiltered(queries, allowed6, K, ExactNN.L2,
      decision = Some(starved))) ===
      rows(ivf.searchAll(queries, K, ExactNN.L2,
        allowed = Some(allowed6))))
  }
}
