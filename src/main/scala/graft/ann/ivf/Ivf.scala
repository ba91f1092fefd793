package graft.ann.ivf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.ExactNN

/** IVF (inverted-file) ANN index — the classic coarse-quantizer scale
  * path for similarity search, complementing the Annoy-style LSH forest
  * (reference lsh/hasher.go) with the other standard bucketing scheme:
  * k-means cells instead of random-projection trees.
  *
  * Spark-first shape (same as [[graft.ann.lsh.Lsh]]):
  *   - `fit`: Lloyd's k-means over a driver-side seeded sample (the
  *     centroid table is tiny — nCells x dims — and rides to executors in
  *     the task closure, like Annoy's broadcast forest);
  *   - `transform`: map-side argmin cell assignment — no shuffle;
  *   - `searchAll`: queries probe their `nProbe` closest cells, the cell
  *     table is equi-joined on cell id (partition-prunable at scale when
  *     the cell table is written partitioned by cell), then exact
  *     distance + per-query top-k.
  *
  * At 100 TB: nCells grows with corpus size (sqrt(N) rule of thumb), the
  * cells DataFrame is bucketed/partitioned by `cell`, and the probe join
  * touches nProbe/nCells of the data — the IVF pruning ratio.
  *
  * Deterministic: seeded sample, seeded init (k-means++ replaced by
  * deterministic farthest-first over the sample), fixed iteration count —
  * no wall-clock nondeterminism (SURVEY.md §7.4 applies here too).
  *
  * Angular mode (`angular = true`) clusters the unit sphere: the fit
  * sample, cell assignment, and probe selection all L2-normalize first
  * (cosine ranking == L2 ranking on normalized vectors — the same
  * metric/index coupling the reference ties to its angular distance,
  * lsh/hasher.go:121-132, and that [[graft.ann.lsh.LshConfig.angular]] /
  * [[graft.ann.ivfpq.IvfPqConfig.angular]] already implement). Without
  * it, cells partition raw L2 space, so cosine probes over vectors of
  * varying magnitude select cells by the wrong geometry. Zero-norm
  * vectors pass through unnormalized, as everywhere else.
  */
final case class IvfConfig(
    nCells: Int = 16,
    nProbe: Int = 4,
    iters: Int = 10,
    seed: Long = 42L,
    sampleCap: Int = 100000,
    angular: Boolean = false,
    driverFitMaxSample: Int = IvfConfig.DefaultDriverFitMaxSample)

object IvfConfig {
  /** Largest fit sample collected to the driver before [[Ivf.fit]]
    * dispatches to the distributed k-means path: 1M rows ≈ 2 GB of
    * primitive doubles at 256-d (FitSample's measured ~820 MB at
    * 400k × 256-d scales linearly) — comfortable on the recommended
    * driver heap. At higher dims or a leaner driver, scale it down by
    * dims/256; the distributed path's recall parity is spec-pinned
    * (DistributedFitSpec), so the switch costs accuracy nothing. */
  val DefaultDriverFitMaxSample: Int = 1000000
}

final class IvfModel(val config: IvfConfig, val centroids: Array[Array[Double]])
    extends Serializable {

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Partial-distance early abandon (the classic k-means/ADC argmin
    * trick): exact squared distance when it is < `bound`, otherwise any
    * partial sum >= `bound` — the argmin caller only ever compares
    * against `bound`, and an abandoned candidate's true distance is >=
    * its partial sum, so results are bit-identical to the unbounded
    * form (strict `<` keeps lowest-cell-id tie-breaking intact).
    * Blocked at 16 elements so the bound check stays off the hot
    * mult-add path. At nCells=1024 most candidates abandon within the
    * first blocks — this is what makes corpus-scale encode/assign
    * affordable (measured in SURVEY §6's round-9 train numbers). */
  private def dist2Bounded(a: Array[Double], b: Array[Double], bound: Double): Double = {
    val n = a.length
    var s = 0.0; var i = 0
    while (i < n && s < bound) {
      val lim = math.min(i + 16, n)
      while (i < lim) { val d = a(i) - b(i); s += d * d; i += 1 }
    }
    s
  }

  /** Angular mode quantizes the unit sphere — normalize before any
    * centroid comparison (same semantics as
    * [[graft.ann.ivfpq.IvfPqModel]]; zero-norm vectors pass through). */
  private def maybeNormalize(v: Array[Double]): Array[Double] = {
    if (!config.angular) return v
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n <= graft.functions.VectorFunctions.Tol) v
    else {
      val out = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { out(j) = v(j) / n; j += 1 }
      out
    }
  }

  /** Index of the closest centroid (ties -> lowest cell id). */
  def cellOf(v0: Array[Double]): Int = {
    val v = maybeNormalize(v0)
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      val d = dist2Bounded(v, centroids(c), bd)
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Cell ids of the `nProbe` closest centroids, ascending distance. */
  def probeCells(v0: Array[Double]): Array[Int] = {
    val v = maybeNormalize(v0)
    centroids.indices
      .map(c => (dist2(v, centroids(c)), c))
      .sortBy(identity)
      .take(config.nProbe)
      .map(_._2)
      .toArray
  }

  private def readElem(a: org.apache.spark.sql.catalyst.util.ArrayData,
                       i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private def dist2Data(a: org.apache.spark.sql.catalyst.util.ArrayData,
                        isFloat: Boolean, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = readElem(a, i, isFloat) - c(i); s += d * d; i += 1 }
    s
  }

  /** [[dist2Bounded]] over Tungsten ArrayData — same early-abandon
    * contract, same bit-identical argmin guarantee. */
  private def dist2DataBounded(a: org.apache.spark.sql.catalyst.util.ArrayData,
                               isFloat: Boolean, c: Array[Double],
                               bound: Double): Double = {
    val n = c.length
    var s = 0.0; var i = 0
    while (i < n && s < bound) {
      val lim = math.min(i + 16, n)
      while (i < lim) { val d = readElem(a, i, isFloat) - c(i); s += d * d; i += 1 }
    }
    s
  }

  private def materialize(a: org.apache.spark.sql.catalyst.util.ArrayData,
                          isFloat: Boolean): Array[Double] = {
    val dims = if (centroids.nonEmpty) centroids(0).length else a.numElements()
    val v = new Array[Double](dims)
    var i = 0
    while (i < dims) { v(i) = readElem(a, i, isFloat); i += 1 }
    v
  }

  /** Argmin cell reading straight out of Tungsten ArrayData (expression
    * path — no per-row materialization in the L2 case; angular mode
    * materializes once to normalize, like
    * [[graft.ann.ivfpq.IvfPqModel.encodeRowData]]). */
  def cellOfData(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 isFloat: Boolean): Int = {
    if (config.angular) return cellOf(materialize(a, isFloat))
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      val d = dist2DataBounded(a, isFloat, centroids(c), bd)
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  def probeCellsData(a: org.apache.spark.sql.catalyst.util.ArrayData,
                     isFloat: Boolean): Array[Int] = {
    if (config.angular) return probeCells(materialize(a, isFloat))
    centroids.indices
      .map(c => (dist2Data(a, isFloat, centroids(c)), c))
      .sortBy(identity)
      .take(config.nProbe)
      .map(_._2)
      .toArray
  }

  /** Persist centroids + config meta under `path` — the model half of
    * every IVF-family save (one spelling; [[Ivf.loadModel]] is the
    * inverse). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    Seq((config.nCells, config.nProbe, config.iters,
      config.seed, config.sampleCap, config.angular))
      .toDF("n_cells", "n_probe", "iters", "seed", "sample_cap", "angular")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** (id, cell) assignment — map-side only, native expression (no UDF
    * encoder round-trip on the path that touches every corpus row). */
  def transform(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), IvfExpressions.ivfCell(this, col(vecCol)).as("cell"))

  /** (query-id, cell) probe rows, nProbe per query. */
  def probeRows(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol),
      explode(IvfExpressions.ivfProbes(this, col(vecCol))).as("cell"))
}

final class IvfIndex(
    val model: IvfModel,
    val vectors: DataFrame, // (vec_id, embedding)
    val cells: DataFrame    // (vec_id, cell)
) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Batch ANN search: probe nProbe cells per query, exact distance over
    * the candidates, bounded per-query top-k
    * ([[graft.ann.TopK.perQueryTopK]]: per-query shuffle capped at
    * numPartitions * k; deterministic vec_id tiebreak). */
  def searchAll(queries: DataFrame, k: Int,
                metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                allowed: Option[DataFrame] = None): DataFrame = {
    val cands = probedCandidates(queries)
    // Constrained search: the allow-list filter sits between cell
    // probing and scoring, so the top-k cut runs over allowed
    // candidates only — same semantics as LshIndex.searchAll's
    // `allowed`. Join shape: NO forced broadcast on either side.
    // Unlike LSH (bucket occupancy can be capped), IVF candidates are
    // ~ queries × corpus × nProbe/nCells rows — a corpus-scale
    // fraction, NOT bounded — so forcing them into a broadcast is a
    // driver OOM at scale; Catalyst/AQE picks broadcast only when the
    // measured size is small and otherwise runs a vec_id-partitioned
    // shuffle join. Recall caveats incl. the filter-geometry-
    // correlation failure mode are in SCALE.md §filtered ANN; for
    // selective or correlated filters use [[searchAllFiltered]] (the
    // density-aware dispatch).
    val filtered = allowed.fold(cands)(a =>
      filterCandidates(cands, a.select("vec_id")))
    scoreTopK(filtered, queries, k, metric, roundTo)
  }

  /** Candidate retrieval (cell probe join) — shared with the
    * density-aware filtered dispatch so the dispatch's observable and
    * the search's candidate set can never drift. */
  private def probedCandidates(queries: DataFrame): DataFrame = {
    val probes = model.probeRows(queries, "query_id", "qv")
    cells
      .join(broadcast(probes), "cell")
      .select("query_id", "vec_id")
  }

  private def filterCandidates(cands: DataFrame, ids: DataFrame): DataFrame =
    ids.join(cands, "vec_id")
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")

  private def scoreTopK(cands: DataFrame, queries: DataFrame, k: Int,
                        metric: ExactNN.Metric, roundTo: Int): DataFrame =
    graft.ann.CandidateScoring.scoreTopK(
      graft.ann.CandidateScoring.pairs(cands, vectors, queries), k, None,
      metric, roundTo)

  /** Label-partitioned view of this index (see [[LabeledIvfIndex]] and
    * the [[graft.ann.lsh.LshIndex.withLabels]] twin): the SAME fitted
    * centroids, the cell table re-keyed by the composite `(label,
    * cell)`. One build-time join; no refit; multi-label rows land in
    * every partition their labels name. */
  def withLabels(labels: DataFrame): LabeledIvfIndex =
    new LabeledIvfIndex(model, vectors,
      cells.join(
        labels.select(col("vec_id"), col("label").cast("string").as("label"))
          .dropDuplicates("vec_id", "label"),
        "vec_id")
        .select("label", "cell", "vec_id"))

  /** Allow-list-SCOPED view: the allow-list as a TRANSIENT
    * single-label partition ([[graft.ann.FilteredSearch.ScopedLabel]])
    * of the SAME fitted centroids — the
    * [[graft.ann.lsh.LshIndex.scopedTo]] twin on cells. The sidecar is
    * the per-cell mean over the ALLOWED rows (≤ nCells rows), computed
    * lazily on first serve; hold the view across batches for a stable
    * predicate. */
  def scopedTo(allowed: DataFrame): LabeledIvfIndex =
    withLabels(
      allowed.select("vec_id")
        .withColumn("label", lit(graft.ann.FilteredSearch.ScopedLabel)))

  /** [[scopedTo]] under the pre-deduped contract (see
    * [[graft.ann.lsh.LshIndex.scopedToPreDeduped]]): skips
    * [[withLabels]]' repeat dedup for ids the caller already
    * deduplicated — duplicate allow rows would skew the centroid
    * means, so the public paths dedup exactly once. */
  private[ivf] def scopedToPreDeduped(ids: DataFrame): LabeledIvfIndex =
    new LabeledIvfIndex(model, vectors,
      cells.join(ids.select("vec_id"), "vec_id")
        .withColumn("label", lit(graft.ann.FilteredSearch.ScopedLabel))
        .select("label", "cell", "vec_id"))

  /** Allow-scoped centroid probing — the SERVE-TIME in-family
    * remediation for the starved/bimodal regimes under an arbitrary
    * predicate (the [[graft.ann.lsh.LshIndex.searchAllScoped]] twin):
    * rank cells by the distance to the ALLOW-LIST's own within-cell
    * mean instead of the fitted centroid and probe the nearest
    * `nProbe` — the [[LabeledIvfIndex.searchAllLabeled]] rule with the
    * allow-list as the single label mass, so the measured 1M recovery
    * (SCALE.md §filtered ANN, round 17: the bimodal even-split's
    * starved half 0.857 → 1.000 at the same nProbe) carries over
    * whenever the allow-list equals a label subset. Why not the fitted
    * centroids with an occupancy filter: under a correlated even-split
    * filter the allow-list occupies every cell, so occupancy-scoping
    * is vacuous — the allow-list's own mass is the summary that ranks
    * where its rows actually are (the [[LabeledIvfIndex]] rationale).
    * Results are allowed-only by construction. */
  def searchAllScoped(queries: DataFrame, allowed: DataFrame, k: Int,
                      metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                      nProbe: Int = 0): DataFrame =
    scopedTo(allowed).searchAllLabeled(
      queries.withColumn("label",
        lit(graft.ann.FilteredSearch.ScopedLabel)),
      k, metric, roundTo, nProbe = nProbe)

  /** Per-query count of ALLOWED rows among the query's `beamWidth`
    * NEAREST candidates in its own (nearest) cell — the IVF density
    * observable; contract identical to
    * [[graft.ann.lsh.LshIndex.localAllowedCounts]], including the
    * measured negative result documented there (counting allowed rows
    * among ALL probed candidates does not discriminate: collapsed arms
    * keep filling k with far allowed rows). One nearest cell per query
    * (the frozen-model assignment [[IvfModel]] `transform` computes),
    * so the estimate costs ≈ 1/nProbe of the unfiltered scoring work. */
  def localAllowedCounts(queries: DataFrame, allowed: DataFrame,
                         beamWidth: Int,
                         metric: ExactNN.Metric = ExactNN.L2,
                         roundTo: Int = 6): DataFrame =
    // dedup before the flag join — the LshIndex.localAllowedCounts rule
    localAllowedCountsDeduped(queries,
      allowed.select("vec_id").dropDuplicates("vec_id"), beamWidth, metric,
      roundTo)

  /** [[localAllowedCounts]] under the pre-deduped contract (the
    * [[graft.ann.lsh.LshIndex.localAllowedCountsDeduped]] rule: the
    * public boundary dedups the allow-list exactly once and threads it
    * through the private chain — never two chained corpus-scale
    * distincts of the same id set in one plan). */
  private[ivf] def localAllowedCountsDeduped(queries: DataFrame,
                                             ids: DataFrame, beamWidth: Int,
                                             metric: ExactNN.Metric,
                                             roundTo: Int): DataFrame = {
    val qCell = model.transform(
        queries.select(col("query_id"), col("qv")), "query_id", "qv")
      .select(col("query_id"), col("cell"))
    val cands = cells
      .join(broadcast(qCell), "cell")
      .select("query_id", "vec_id")
    val flagged = ids.select(col("vec_id")).withColumn("ok", lit(true))
    val scored = cands
      .join(vectors, "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        "query_id")
      .join(flagged, Seq("vec_id"), "left")
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"),
        coalesce(col("ok"), lit(false)).as("ok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    val counts = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= beamWidth)
      .groupBy("query_id")
      .agg(sum(when(col("ok"), lit(1L)).otherwise(lit(0L)))
        .as("local_allowed"))
    queries.select(col("query_id"))
      .join(counts, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("local_allowed"), lit(0L)).as("local_allowed"))
  }

  /** The routing decision a density-aware [[searchAllFiltered]] call
    * makes, as data — the IVF twin of
    * [[graft.ann.lsh.LshIndex.filteredDecision]]. */
  def filteredDecision(queries: DataFrame, allowed: DataFrame, k: Int,
                       beamWidth: Int =
                         graft.ann.lsh.LshIndex.DefaultLocalBeamWidth,
                       metric: ExactNN.Metric = ExactNN.L2,
                       roundTo: Int = 6,
                       maxExactFraction: Double =
                         graft.ann.FilteredSearch.DefaultMaxExactFraction,
                       maxAutoExactFraction: Double =
                         graft.ann.FilteredSearch.DefaultMaxAutoExactFraction,
                       allowedCount: Option[Long] = None,
                       corpusCount: Option[Long] = None,
                       densityDispatch: Boolean = true)
      : graft.ann.FilteredSearch.Decision =
    // dedup once — the LshIndex.filteredDecision rule
    filteredDecisionDeduped(queries,
      allowed.select("vec_id").dropDuplicates("vec_id"), k, beamWidth,
      metric, roundTo, maxExactFraction, maxAutoExactFraction,
      allowedCount, corpusCount, densityDispatch)

  /** [[filteredDecision]] under the pre-deduped contract (see
    * [[localAllowedCountsDeduped]]). */
  private[ivf] def filteredDecisionDeduped(queries: DataFrame,
                                           ids: DataFrame, k: Int,
                                           beamWidth: Int,
                                           metric: ExactNN.Metric,
                                           roundTo: Int,
                                           maxExactFraction: Double,
                                           maxAutoExactFraction: Double,
                                           allowedCount: Option[Long],
                                           corpusCount: Option[Long],
                                           densityDispatch: Boolean)
      : graft.ann.FilteredSearch.Decision =
    graft.ann.FilteredSearch.decide(
      allowedCount.getOrElse(ids.count()),
      corpusCount.getOrElse(vectors.count()),
      k, maxExactFraction, maxAutoExactFraction, densityDispatch,
      bucket = true,
      localAllowed = localAllowedCountsDeduped(queries, ids, beamWidth,
        metric, roundTo))

  /** Constrained search under the density-aware dispatch — the IVF
    * twin of [[graft.ann.lsh.LshIndex.searchAllFiltered]], same rule,
    * same routes, same post-hoc observable (the scaladoc there applies
    * verbatim with buckets → cells): selective allow-list → exact
    * subset scan; dense probed cells (median allowed candidates ≥ k)
    * → probe-then-filter; starved with the subset ≤
    * `maxAutoExactFraction` → exact re-serve; starved and too large →
    * probe with a logged warning, or — with `scopedFallback = true` —
    * an upgraded serve via [[searchAllScoped]] (allow-scoped centroid
    * probing; also covers the bimodal `warn_bimodal` regime).
    * `densityDispatch = false` restores the selectivity-only rule.
    * Counts are one aggregate each; pass them when known upstream. */
  def searchAllFiltered(queries: DataFrame, allowed: DataFrame, k: Int,
                        metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                        maxExactFraction: Double =
                          graft.ann.FilteredSearch.DefaultMaxExactFraction,
                        allowedCount: Option[Long] = None,
                        corpusCount: Option[Long] = None,
                        maxAutoExactFraction: Double =
                          graft.ann.FilteredSearch.DefaultMaxAutoExactFraction,
                        densityDispatch: Boolean = true,
                        localBeamWidth: Int =
                          graft.ann.lsh.LshIndex.DefaultLocalBeamWidth,
                        decision: Option[graft.ann.FilteredSearch.Decision] =
                          None,
                        scopedFallback: Boolean = false,
                        scopedNProbe: Int = 0)
      : DataFrame = {
    import graft.ann.FilteredSearch
    // dedup once (the LshIndex.searchAllFiltered rule); the private
    // chain below runs under the pre-deduped contract. A caller-given
    // `decision` (stable-predicate serving loops) skips the counts
    // pass and the own-cell estimator entirely — the call only routes.
    val ids = allowed.select("vec_id").dropDuplicates("vec_id")
    def exactSubset: DataFrame =
      ExactNN.topK(queries, vectors.join(ids, "vec_id"), k, metric,
        roundTo = roundTo)
    // one ladder, via the pre-deduped twin (the LshIndex rule)
    val d = decision.getOrElse(
      filteredDecisionDeduped(queries, ids, k, localBeamWidth, metric,
        roundTo, maxExactFraction, maxAutoExactFraction,
        allowedCount, corpusCount, densityDispatch))
    val upgraded = scopedFallback &&
      (d.route == FilteredSearch.ProbeStarved || d.bimodalStarved(k))
    if (upgraded)
      // the warned regime is being remediated in this very call (the
      // LshIndex.searchAllFiltered rule)
      log.info("filtered IVF serve upgraded to allow-scoped centroid " +
        s"probing (searchAllScoped) on route ${d.route.name}" +
        (if (d.bimodalStarved(k)) " with bimodal starvation" else ""))
    else
      FilteredSearch.warnings(d, k, localBeamWidth, "IVF",
        "nearest own-cell candidates",
        "Serve with scopedFallback = true / IvfIndex.searchAllScoped " +
          "(allow-scoped centroid probing — serve-time, any predicate, " +
          "no rebuild; the correlated arms recover at 1M, SCALE.md " +
          "§filtered ANN), from the label-partitioned store for stored " +
          "label-equality predicates (IvfIndex.withLabels -> " +
          "searchAllLabeled), or raise maxAutoExactFraction when the " +
          "subset is scannable.",
        maxAutoExactFraction,
        bimodalRemediation = "Remediation: scopedFallback = true / " +
          "IvfIndex.searchAllScoped (serve-time, any predicate), or " +
          "the label-partitioned store keyed on the filter column " +
          "(IvfIndex.withLabels -> searchAllLabeled).")
        .foreach(log.warn)
    if (d.route.exact) exactSubset
    else if (upgraded)
      // ids are already deduped above — the pre-deduped twin skips
      // withLabels' repeat dedup (the round-16 allow-dedup rule);
      // scopedNProbe carries a tuned operating point onto the
      // dispatch path (0 = the model's configured nProbe)
      scopedToPreDeduped(ids).searchAllLabeled(
        queries.withColumn("label",
          lit(graft.ann.FilteredSearch.ScopedLabel)),
        k, metric, roundTo, nProbe = scopedNProbe)
    else searchAll(queries, k, metric, roundTo, allowed = Some(ids))
  }

  /** The same index served at a different operating point: `nProbe` is
    * a pure SEARCH-time knob (probe selection reads it; centroids, cell
    * assignments, and stored tables are untouched), so re-tuning costs
    * nothing — the lever [[graft.ann.AutoTune.sweepIvfNProbe]] walks. */
  def withNProbe(nProbe: Int): IvfIndex = {
    require(nProbe >= 1 && nProbe <= model.config.nCells,
      s"withNProbe: nProbe $nProbe outside [1, ${model.config.nCells}]")
    new IvfIndex(new IvfModel(model.config.copy(nProbe = nProbe),
      model.centroids), vectors, cells)
  }

  /** Serve-time delete view (tombstone pattern; semantics and scale
    * shape identical to [[graft.ann.lsh.LshIndex.withDeletes]]): both
    * tables anti-join the broadcast tombstone set map-side; compaction
    * is `withDeletes(t).save(path)`. */
  def withDeletes(tombstones: DataFrame): IvfIndex = {
    val t = broadcast(tombstones.select("vec_id"))
    new IvfIndex(model,
      vectors.join(t, Seq("vec_id"), "left_anti"),
      cells.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Incremental append: assign arrivals (vec_id, embedding) to their
    * nearest cell under the FROZEN centroids — map-side argmin, no
    * refit, union-only. Freshness caveat: frozen centroids keep cell
    * geometry only while the data distribution holds; under drift,
    * arrivals pile into few cells and the nProbe/nCells pruning ratio
    * decays toward a scan. [[cellStats]] is the drift watermark — when
    * max/mean occupancy outgrows its at-train value ~3×, retrain (the
    * [[graft.ann.GraphMaintainer]] cadence pattern; IvfLifecycleSpec
    * exercises the watermark read). */
  def append(arrivals: DataFrame): IvfIndex = {
    val a = arrivals.select("vec_id", "embedding")
    new IvfIndex(model,
      vectors.unionByName(a),
      cells.unionByName(
        model.transform(a, "vec_id", "embedding")
          .select(col("vec_id"), col("cell"))))
  }

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): IvfIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Cell occupancy diagnostics. */
  def cellStats: DataFrame =
    cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")

  /** Bucketed-table persistence: `cells` bucketed by cell id so
    * cell-keyed joins/aggregations read pre-clustered files with no
    * corpus-side Exchange; `vectors` bucketed by vec_id for the
    * candidates→vectors lookup join (at 100 TB these are the joins
    * whose corpus-side shuffle would dominate the job). Centroids+meta
    * still save to `modelPath` as plain parquet. */
  def saveBucketed(spark: SparkSession, name: String, modelPath: String,
                   nBuckets: Int = 64): Unit = {
    saveModel(spark, modelPath)
    vectors.write.mode("overwrite")
      .bucketBy(nBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(s"${name}_vectors")
    cells.write.mode("overwrite")
      .bucketBy(nBuckets, "cell").sortBy("cell")
      .saveAsTable(s"${name}_cells")
  }

  /** Centroids + meta only (shared by [[save]] and [[saveBucketed]]). */
  def saveModel(spark: SparkSession, path: String): Unit =
    model.save(spark, path)

  /** Persist centroids + vectors + cell table; cells are written
    * `partitionBy(cell)` so a probe of nProbe cells prunes to nProbe
    * partition directories (same at-rest layout rationale as
    * [[graft.ann.lsh.LshIndex.save]]). */
  def save(spark: SparkSession, path: String): Unit = {
    saveModel(spark, path)
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    cells
      .repartition(col("cell"))
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/cells")
  }
}

object Ivf {

  /** Reopen a persisted [[IvfModel]] (centroids + meta — the inverse
    * of [[IvfModel.save]]); ONE spelling shared by every IVF-family
    * loader so a persisted-schema change cannot be applied to one
    * loader and forgotten in another (round-17 self-review: this block
    * existed in three copies). */
  def loadModel(spark: SparkSession, path: String): IvfModel = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").head()
    val config = IvfConfig(
      nCells = meta.getAs[Int]("n_cells"),
      nProbe = meta.getAs[Int]("n_probe"),
      iters = meta.getAs[Int]("iters"),
      seed = meta.getAs[Long]("seed"),
      sampleCap = meta.getAs[Int]("sample_cap"),
      angular = meta.getAs[Boolean]("angular"))
    val centroids = spark.read.parquet(s"$path/centroids")
      .select($"cell", $"centroid").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    new IvfModel(config, centroids)
  }

  /** Reopen a bucketed-table index saved by [[IvfIndex.saveBucketed]]. */
  def loadBucketed(spark: SparkSession, name: String, modelPath: String): IvfIndex =
    new IvfIndex(loadModel(spark, modelPath),
      spark.table(s"${name}_vectors"), spark.table(s"${name}_cells"))

  /** Reopen a saved index. */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val vectors = spark.read.parquet(s"$path/vectors")
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    new IvfIndex(loadModel(spark, path), vectors, cells)
  }

  /** Deterministic init, two regimes. Small k: farthest-first (first
    * centroid = first sample row; each next maximizes distance to the
    * chosen set) — best geometry, but O(k^2 N), so above `FarthestMaxK`
    * it switches to strided selection (every N/k-th sample row), which
    * Lloyd's iterations then refine. Both avoid k-means++'s RNG so
    * builds are reproducible. Incremental min-distance tracking keeps
    * farthest-first at O(kN) per pick instead of O(k^2 N) total scan. */
  private[ivf] val FarthestMaxK = 64

  private[ivf] def init(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kk = math.min(k, sample.length)
    if (kk > FarthestMaxK) {
      // strided: deterministic, O(k)
      Array.tabulate(kk)(i => sample((i.toLong * sample.length / kk).toInt))
    } else {
      val chosen = scala.collection.mutable.ArrayBuffer(sample(0))
      // minD(i) = distance of sample(i) to the closest chosen centroid
      val minD = sample.map(v => d2(v, sample(0)))
      while (chosen.length < kk) {
        var bestIdx = 0; var bestD = -1.0
        var i = 0
        while (i < sample.length) {
          if (minD(i) > bestD) { bestD = minD(i); bestIdx = i }
          i += 1
        }
        val c = sample(bestIdx)
        chosen += c
        var j = 0
        while (j < sample.length) {
          val d = d2(sample(j), c)
          if (d < minD(j)) minD(j) = d
          j += 1
        }
      }
      chosen.toArray
    }
  }

  /** Argmin assignment parallelized across cores (the dominant cost of
    * each Lloyd iteration: N*k*dims mult-adds). Deterministic: the
    * per-row result does not depend on thread scheduling. */
  private def assignAll(sample: Array[Array[Double]], model: IvfModel): Array[Int] = {
    val out = new Array[Int](sample.length)
    val nThreads = math.max(1, Runtime.getRuntime.availableProcessors())
    val chunk = (sample.length + nThreads - 1) / nThreads
    val threads = (0 until nThreads).map { t =>
      val th = new Thread(() => {
        var i = t * chunk
        val end = math.min(sample.length, (t + 1) * chunk)
        while (i < end) { out(i) = model.cellOf(sample(i)); i += 1 }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    out
  }

  private[ann] def lloyd(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dims = sample(0).length
    var cent = init(sample, k)
    var assign = assignAll(sample, new IvfModel(IvfConfig(nCells = cent.length), cent))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cent.length)(new Array[Double](dims))
      val counts = new Array[Long](cent.length)
      var i = 0
      while (i < sample.length) {
        val c = assign(i); counts(c) += 1
        var d = 0
        while (d < dims) { sums(c)(d) += sample(i)(d); d += 1 }
        i += 1
      }
      cent = cent.indices.map { c =>
        if (counts(c) == 0) cent(c) // empty cell keeps its centroid
        else sums(c).map(_ / counts(c))
      }.toArray
      assign = assignAll(sample, new IvfModel(IvfConfig(nCells = cent.length), cent))
      it += 1
    }
    cent
  }

  /** Distributed coarse-quantizer fit (MLlib k-means||): clusters the
    * sample WITHOUT collecting it to the driver — the scale path past
    * [[IvfConfig.driverFitMaxSample]], where the driver-side
    * `FitSample.collectVectors` funnel (SCALE.md's `total/3` occupancy
    * rule vs driver memory) stops holding. Angular mode normalizes
    * map-side before clustering (same unit-sphere space the serving
    * paths normalize into). Centroids are canonicalized by sorting
    * lexicographically on their components, so cell ids are stable
    * across re-fits of the same data regardless of MLlib's internal
    * ordering. The seeded k-means|| init differs from the driver
    * path's deterministic farthest-first/strided init, so the two
    * paths produce different (both valid) cell geometries — the
    * contract is same-operating-point recall parity
    * (DistributedFitSpec), not bit-identical centroids. */
  private[ann] def fitCentroidsDistributed(sampled: DataFrame,
                                           vecCol: String, nCells: Int,
                                           iters: Int, seed: Long,
                                           angular: Boolean)
      : Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vd = col(vecCol).cast(ArrayType(DoubleType))
    val feat =
      if (!angular) vd
      else {
        val nrm = sqrt(aggregate(vd, lit(0.0), (acc, x) => acc + x * x))
        when(nrm <= lit(graft.functions.VectorFunctions.Tol), vd)
          .otherwise(transform(vd, x => x / nrm))
      }
    val input = sampled.select(array_to_vector(feat).as("features"))
    val km = new KMeans()
      .setK(nCells)
      .setMaxIter(iters)
      .setSeed(seed)
      .setFeaturesCol("features")
      .setPredictionCol("graft_cell")
    import scala.math.Ordering.Implicits._
    km.fit(input).clusterCenters.map(_.toArray).sortBy(_.toSeq)
  }

  def fit(df: DataFrame, vecCol: String, config: IvfConfig): IvfModel = {
    val total = df.count()
    val sampled =
      if (total <= config.sampleCap) df
      else df.sample(withReplacement = false,
        fraction = config.sampleCap.toDouble / total, seed = config.seed)
    // Above the driver-collect bound, cluster distributed (the sample
    // never leaves the executors — only nCells × dims centroids do).
    if (math.min(total, config.sampleCap.toLong) > config.driverFitMaxSample)
      return new IvfModel(config, fitCentroidsDistributed(sampled, vecCol,
        config.nCells, config.iters, config.seed, config.angular))
    val raw = graft.ann.FitSample.collectVectors(sampled, vecCol)
    // angular: the centroids live on the unit sphere — the same space
    // cellOfData/probeCellsData normalize into (cf. IvfPq.fit)
    val vecs = if (!config.angular) raw else raw.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n <= graft.functions.VectorFunctions.Tol) v else v.map(_ / n)
    }
    new IvfModel(config, lloyd(vecs, config.nCells, config.iters))
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            config: IvfConfig): IvfIndex = {
    val model = fit(df, vecCol, config)
    val vectors = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val cells = model.transform(df, idCol, vecCol)
      .select(col(idCol).as("vec_id"), col("cell"))
    new IvfIndex(model, vectors, cells)
  }
}
