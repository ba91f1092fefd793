package graft.ann.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.{ExactNN, FilteredSearch}
import graft.ann.ivf.{Ivf, IvfConfig}

/** Density-aware routing for constrained BUCKET-index search
  * ([[LshIndex.filteredDecision]] / [[LshIndex.searchAllFiltered]] and
  * the IVF twins, over [[FilteredSearch.routeBucket]]) — the round-16
  * closure of the one round-15 `weak`: above the selectivity cutoff,
  * LSH/IVF filtered serving dispatched on selectivity alone while the
  * measured failure is a DENSITY property. Contracts:
  *
  *   - the pure rule ([[FilteredSearch.routeBucket]]) delegates to the
  *     graph rule with renamed probe-path outcomes — identical
  *     boundaries, can never drift;
  *   - the measured trap this spec exists for (the negative result on
  *     the "free" signal): a collapsed filtered probe still returns
  *     FULL k-row result sets — the probed buckets hold enough allowed
  *     rows to fill k, just far ones — so underfill/candidate counts
  *     observe nothing and the estimator must RANK
  *     ([[LshIndex.localAllowedCounts]]: own-leaf beamWidth-nearest);
  *   - starved 10% filters (uncorrelated per-point AND
  *     cluster-correlated) auto-dispatch to the exact subset scan
  *     (route `exact_density`, row-identical to [[ExactNN.topK]]
  *     over the subset — recall 1.0);
  *   - a locally-dense 50% filter stays on the probe path (route
  *     `probe`, row-identical to `searchAll(allowed=…)`);
  *   - a starved ~17% filter (above the 15% auto-exact ceiling) probes
  *     with the warning route (`probe_starved`), output still the
  *     probe path's;
  *   - the selectivity cutoff short-circuits first (no estimator);
  *   - `densityDispatch = false` restores the selectivity-only rule;
  *   - caller-supplied counts skip the count jobs and bind the rule.
  */
class BucketFilteredDispatchSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private val K = 5

  // 200 clusters x 10 points (the GraphFilteredDispatchSpec geometry):
  // per-point mod-10 leaves ~1 allowed row per cluster; cluster-level
  // mod-10 concentrates the allowed set in 10% of clusters (the
  // geometry-correlated metadata filter); cluster-level mod-6 is
  // ~17% selective — starved but above the auto-exact ceiling.
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(200)(Array.fill(32)(rnd.nextGaussian()))
    (0 until 2000).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()
  }

  private lazy val idx = Lsh.train(corpus, "vec_id", "embedding",
    LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))

  private lazy val ivf = Ivf.train(corpus, "vec_id", "embedding",
    IvfConfig(nCells = 200, nProbe = 8, seed = 5L))

  private lazy val queries: DataFrame =
    corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .localCheckpoint()

  private val densePred = pmod(col("vec_id"), lit(2)) === 0
  private val pt10Pred = pmod(col("vec_id"), lit(10)) === 3
  private val cl10Pred =
    pmod((col("vec_id") / 10).cast("long"), lit(10)) === 3
  private val cl17Pred =
    pmod((col("vec_id") / 10).cast("long"), lit(6)) === 0

  private def allowedOf(pred: org.apache.spark.sql.Column): DataFrame =
    corpus.where(pred).select("vec_id")

  private def lshDecide(pred: org.apache.spark.sql.Column) =
    idx.filteredDecision(queries, allowedOf(pred), K,
      metric = ExactNN.Cosine)

  private def lshDispatch(pred: org.apache.spark.sql.Column): DataFrame =
    idx.searchAllFiltered(queries, allowedOf(pred), K, Double.MaxValue,
      ExactNN.Cosine)

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect().toSet

  test("pure rule: routeBucket delegates to route with renamed probe outcomes") {
    import FilteredSearch._
    assert(routeBucket(50, 1000, 0.0, k = 10) === ExactSelectivity)
    assert(routeBucket(500, 1000, 10.0, k = 10) === Probe)
    assert(routeBucket(100, 1000, 2.0, k = 10) === ExactDensity)
    assert(routeBucket(150, 1000, 2.0, k = 10) === ExactDensity)
    assert(routeBucket(151, 1000, 2.0, k = 10) === ProbeStarved)
    assert(routeBucket(0, 0, 0.0, k = 10) === ExactSelectivity)
    // boundary-for-boundary identity with the graph rule
    for (a <- Seq(49L, 50L, 51L, 150L, 151L, 999L); m <- Seq(0.0, 9.0, 10.0))
      assert(routeBucket(a, 1000, m, 10).exact ===
        route(a, 1000, m, 10).exact, s"allowed=$a median=$m")
    Seq(Probe, ProbeStarved).foreach(r => assert(routeOf(r.name) === r))
  }

  test("the measured trap: a collapsed filtered probe returns FULL result sets") {
    // the negative result that forced the ranking estimator: under the
    // correlated 10% filter the fixed probe path fills k for every
    // query (nothing underfilled, candidate counts look healthy) while
    // recall collapses — the rows are allowed but FAR. A signal that
    // only counts allowed candidates cannot see this.
    val gt = ExactNN.topK(queries, corpus.where(cl10Pred), K,
      ExactNN.Cosine)
    val probe = idx.searchAll(queries, K, Double.MaxValue, ExactNN.Cosine,
      allowed = Some(allowedOf(cl10Pred)))
    val perQuery = probe.groupBy("query_id").count()
      .agg(min("count")).as[Long].head()
    assert(perQuery === K.toLong,
      "every query must fill k on the probe path for the trap to be real")
    val rec = graft.eval.Eval.setPrecisionRecall(
        probe.select("query_id", "vec_id"), gt.select("query_id", "vec_id"))
      .agg(avg("recall")).as[Double].head()
    assert(rec < 0.8, f"probe recall $rec%.3f expected collapsed (< 0.8)")
  }

  test("starved 10% filters (uncorrelated and correlated) dispatch to the exact subset scan") {
    for ((tag, pred) <- Seq("pt10" -> pt10Pred, "cl10" -> cl10Pred)) {
      val d = lshDecide(pred)
      assert(d.route === FilteredSearch.ExactDensity, s"$tag: $d")
      assert(d.medianLocalAllowed.exists(_ < K), s"$tag: $d")
      assert(d.allowedCount === 200L && d.corpusCount === 2000L)
      val expected = ExactNN.topK(queries, corpus.where(pred), K,
        ExactNN.Cosine, threshold = Some(Double.MaxValue))
      assert(rows(lshDispatch(pred)) === rows(expected), s"$tag diverged")
    }
  }

  test("locally dense 50% filter stays on the probe path") {
    val d = lshDecide(densePred)
    assert(d.route === FilteredSearch.Probe, d.toString)
    assert(d.medianLocalAllowed.exists(_ >= K))
    val probe = idx.searchAll(queries, K, Double.MaxValue, ExactNN.Cosine,
      allowed = Some(allowedOf(densePred)))
    assert(rows(lshDispatch(densePred)) === rows(probe))
  }

  test("starved filter above the auto-exact ceiling probes with the warning route") {
    val d = lshDecide(cl17Pred)
    assert(d.route === FilteredSearch.ProbeStarved, d.toString)
    assert(d.medianLocalAllowed.exists(_ < K))
    assert(d.selectivity > FilteredSearch.DefaultMaxAutoExactFraction)
    val probe = idx.searchAll(queries, K, Double.MaxValue, ExactNN.Cosine,
      allowed = Some(allowedOf(cl17Pred)))
    assert(rows(lshDispatch(cl17Pred)) === rows(probe))
  }

  test("bimodal starvation signal: quartile warns where the median routes probe") {
    import FilteredSearch._
    // pure rule: warns only on probe/walk routes with a starved lower
    // quartile — the measured 1M-shape regime where a correlated
    // even-split filter serves ~1.0 to half the queries and ~0.16 to
    // the other half (median dense, average mute)
    assert(Decision(1000, 500, Some(16.0), Probe, Some(2.0))
      .bimodalStarved(10))
    assert(Decision(1000, 500, Some(16.0), Walk, Some(2.0))
      .bimodalStarved(10))
    assert(!Decision(1000, 500, Some(16.0), Probe, Some(10.0))
      .bimodalStarved(10))
    assert(!Decision(1000, 100, Some(2.0), ExactDensity, Some(0.0))
      .bimodalStarved(10))
    assert(!Decision(1000, 500, Some(16.0), Probe, None)
      .bimodalStarved(10))
    // empirical: a CLUSTER-correlated even-split filter on the spec
    // geometry — allowed clusters are whole-in/whole-out, so
    // disallowed-cluster queries see a starved own-leaf while the
    // median stays dense enough to route probe
    val cl50 = pmod((col("vec_id") / 10).cast("long"), lit(2)) === 0
    val d = lshDecide(cl50)
    assert(d.lowQuartileLocalAllowed.isDefined)
    assert(d.lowQuartileLocalAllowed.get <
      d.medianLocalAllowed.get,
      s"correlated even-split should skew the local-density " +
        s"distribution: $d")
  }

  test("estimator knobs: default beam clears the false-warn floor; tree choice never unwarns") {
    // an UNCORRELATED filter's median reads ~selectivity x beam, so a
    // beam below k/selectivity spuriously warns — the 1M-swept
    // false-warn floor (SCALE.md §filtered ANN, round 17: beams 8/16
    // read a 50% uncorrelated filter starved; 32 is the smallest
    // swept setting with zero false warnings). The per-point mod-2
    // filter is the spec-scale uncorrelated even-split.
    val dSmall = idx.filteredDecision(queries, allowedOf(densePred), K,
      beamWidth = 4, metric = ExactNN.Cosine)
    assert(dSmall.route === FilteredSearch.ProbeStarved,
      s"beam 4 should sit under the false-warn floor: $dSmall")
    assert(lshDecide(densePred).route === FilteredSearch.Probe,
      "the default beam must not false-warn the uncorrelated filter")
    // tree choice moves the median but never the WARNED-vs-unwarned
    // outcome (the 1M sweep's negative result): the correlated
    // starved-large arm stays warned — starved, or probe with a
    // starved lower quartile (bimodal) — under every tree
    for (t <- Seq(0, 3, 7)) {
      val row = idx.localAllowedCounts(queries, allowedOf(cl17Pred),
          LshIndex.DefaultLocalBeamWidth, ExactNN.Cosine, treeId = t)
        .agg(expr("percentile(local_allowed, 0.5)"),
          expr("percentile(local_allowed, 0.25)")).head()
      val med = row.getDouble(0)
      val q25 = row.getDouble(1)
      val route = FilteredSearch.routeBucket(340L, 2000L, med, K)
      assert(route === FilteredSearch.ProbeStarved ||
        (route === FilteredSearch.Probe && q25 < K),
        s"tree $t unwarned the starved arm: median=$med q25=$q25 $route")
    }
  }

  test("selectivity cutoff short-circuits before the estimator") {
    val pred = pmod($"vec_id", lit(50)) === 0 // 2% <= 5%
    val d = lshDecide(pred)
    assert(d.route === FilteredSearch.ExactSelectivity)
    assert(d.medianLocalAllowed.isEmpty,
      "estimator must not run under the selectivity short-circuit")
  }

  test("densityDispatch = false restores the selectivity-only rule") {
    val d = idx.filteredDecision(queries, allowedOf(cl10Pred), K,
      metric = ExactNN.Cosine, densityDispatch = false)
    assert(d.route === FilteredSearch.Probe)
    assert(d.medianLocalAllowed.isEmpty)
    val served = idx.searchAllFiltered(queries, allowedOf(cl10Pred), K,
      Double.MaxValue, ExactNN.Cosine, densityDispatch = false)
    val probe = idx.searchAll(queries, K, Double.MaxValue, ExactNN.Cosine,
      allowed = Some(allowedOf(cl10Pred)))
    assert(rows(served) === rows(probe))
  }

  test("localAllowedCounts: one row per query, zeros kept, empty allow-list all-zero") {
    val counts = idx.localAllowedCounts(queries, allowedOf(cl10Pred),
      LshIndex.DefaultLocalBeamWidth, ExactNN.Cosine)
    assert(counts.count() === 40L, "one row per query, absent = 0")
    assert(counts.agg(min("local_allowed")).as[Long].head() >= 0L)
    val empty = idx.localAllowedCounts(queries,
      corpus.where(lit(false)).select("vec_id"),
      LshIndex.DefaultLocalBeamWidth, ExactNN.Cosine)
    assert(empty.agg(max("local_allowed")).as[Long].head() === 0L)
  }

  test("caller-supplied counts skip the count jobs and bind the rule") {
    val d = idx.filteredDecision(queries, allowedOf(cl10Pred), K,
      metric = ExactNN.Cosine,
      allowedCount = Some(40L), corpusCount = Some(2000L))
    assert(d.route === FilteredSearch.ExactSelectivity)
    assert(d.allowedCount === 40L && d.corpusCount === 2000L)
  }

  test("IVF twin: same routes, same output identities") {
    def decide(pred: org.apache.spark.sql.Column) =
      ivf.filteredDecision(queries, allowedOf(pred), K)
    // starved (uncorrelated and correlated) -> exact subset scan
    for ((tag, pred) <- Seq("pt10" -> pt10Pred, "cl10" -> cl10Pred)) {
      val d = decide(pred)
      assert(d.route === FilteredSearch.ExactDensity, s"$tag: $d")
      val expected = ExactNN.topK(queries, corpus.where(pred), K,
        ExactNN.L2)
      val got = ivf.searchAllFiltered(queries, allowedOf(pred), K,
        ExactNN.L2)
      assert(rows(got) === rows(expected), s"$tag diverged")
    }
    // dense 50% -> probe path
    val dDense = decide(densePred)
    assert(dDense.route === FilteredSearch.Probe, dDense.toString)
    val probe = ivf.searchAll(queries, K, ExactNN.L2,
      allowed = Some(allowedOf(densePred)))
    assert(rows(ivf.searchAllFiltered(queries, allowedOf(densePred), K,
      ExactNN.L2)) === rows(probe))
    // starved above the ceiling -> warning route, probe output
    val dBig = decide(cl17Pred)
    assert(dBig.route === FilteredSearch.ProbeStarved, dBig.toString)
    val probeBig = ivf.searchAll(queries, K, ExactNN.L2,
      allowed = Some(allowedOf(cl17Pred)))
    assert(rows(ivf.searchAllFiltered(queries, allowedOf(cl17Pred), K,
      ExactNN.L2)) === rows(probeBig))
  }
}
