package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.ivf.IvfIndex
import graft.ann.lsh.LshIndex

/** Recall-targeted operating-point selection — the production form of
  * the reference's benchmark sweep (annbench.go:165-187 measures a
  * recall/latency grid by hand; a deployment needs the grid walked FOR
  * it). Each index family exposes one monotone cost knob (IVF: cells
  * probed per query; LSH: trees probed per query; PQ-family: rerank
  * depth; graph: beam width — all price recall in candidate volume,
  * measured sweeps in SCALE.md). `sweep` grades every arm's recall
  * against the exact ground truth on a validation query sample and
  * flags the cheapest arm that meets the target — sample-in,
  * config-out, so the expensive full-corpus serving config is chosen
  * from a bounded validation workload.
  *
  * Scale shape: the ground truth is computed ONCE (bounded
  * queries x k rows, persisted) — or passed in pre-computed via
  * `gtOpt` when the caller already has it — and re-joined per arm;
  * each arm is one index search at that operating point, so the sweep
  * costs `sum(arms)` searches on the SAMPLE queries, not the
  * corpus-sized serving workload. The chosen-arm rule runs on an
  * |arms|-row frame via a single-row cross join (no windows, nothing
  * driver-side).
  *
  * Recall is counted from the GROUND-TRUTH side: every validation
  * query appears in every arm's grade, and a query for which an arm
  * returned NO candidates scores recall 0 instead of silently
  * vanishing from the average. Cheap arms (1 tree, 1 probe, a
  * too-narrow beam) are exactly the ones that can return nothing for
  * some queries — an average over only the answered queries would
  * overstate them and could flag an arm `chosen` that misses the
  * target on the full workload.
  */
object AutoTune {

  /** Run independent guard-count actions as concurrent jobs (they are
    * each one tiny aggregate whose wall cost is scheduled-stage
    * latency, not compute). */
  private def par[T](thunks: (() => T)*): Seq[T] = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // await-all-then-rethrow + managed blocking — the QueryPack
    // .inParallel discipline (no orphaned legs after a failure, no
    // unbounded compensation-thread burst under nesting)
    val settled = blocking {
      Await.result(
        Future.sequence(thunks.map(t =>
          Future(scala.util.Try(t()))).toSeq),
        scala.concurrent.duration.Duration.Inf)
    }
    settled.collectFirst { case scala.util.Failure(e) => throw e }
    settled.map(_.get)
  }

  /** Grade a combined predictions frame against the exact ground truth
    * and apply the cheapest-arm-meeting-target rule.
    *
    * @param arms  the swept knob values, strictly ascending cost order
    * @param preds (arm, query_id, vec_id) — every arm's predictions in
    *              one frame (extra columns ignored)
    * @param gt    (query_id, vec_id) exact ground truth
    * @return one row per arm (arm, avg_recall, n_queries, chosen);
    *         `chosen` marks the first arm whose average recall meets
    *         `targetRecall`, falling back to the last arm ("best
    *         available") when none does. `n_queries` is the validation
    *         query count — identical for every arm by the gt-side
    *         grading rule (class doc).
    */
  def gradeArms(arms: Seq[Int], preds: DataFrame, gt: DataFrame,
                targetRecall: Double): DataFrame = {
    require(arms.nonEmpty, "AutoTune.gradeArms: empty arm list")
    require(arms == arms.sorted && arms.distinct == arms,
      s"AutoTune.gradeArms: arms must be strictly ascending (got $arms)")
    val spark = preds.sparkSession
    import spark.implicits._
    // One union + two keyed aggregations (the Eval.setPrecisionRecall
    // shuffle shape) instead of per-arm scaffold joins, and the
    // cheapest-arm-meeting-target choice computed driver-side over the
    // collected |arms|-row grade — the original ran TWO persist+count
    // materializations (graded, then out) plus ~6 Exchanges; this is
    // one collect of |arms| rows. Row-identical: the gt side is
    // replicated per arm (gt-side grading — a query an arm returned
    // nothing for scores 0, the class-doc rule), duplicate pred rows
    // count as the left-semi form counted them, pred rows for queries
    // outside gt drop (n_gt > 0, the old inner armQueries join).
    val gtArms = arms.toDF("arm").crossJoin(gt.select("query_id", "vec_id"))
    val both = preds.select(col("arm"), col("query_id"), col("vec_id"),
        lit(1L).as("pc"), lit(0L).as("gc"))
      .unionByName(gtArms.select(col("arm"), col("query_id"), col("vec_id"),
        lit(0L).as("pc"), lit(1L).as("gc")))
    // one shuffle for the pair- and query-level aggregations (the
    // Eval.setPrecisionRecall treatment: partitioning on a subset of
    // the grouping keys satisfies both distributions); the arm-level
    // re-aggregation below still pays its own (tiny) exchange
    val graded = both.repartition(col("arm"), col("query_id"))
      .groupBy("arm", "query_id", "vec_id")
      .agg(sum("pc").as("pc"), sum("gc").as("gc"))
      .groupBy("arm", "query_id")
      .agg(sum("gc").as("n_gt"),
        sum(when(col("gc") > 0, col("pc")).otherwise(lit(0L))).as("valid"))
      .where(col("n_gt") > 0)
      .select(col("arm"), round(col("valid") / col("n_gt"), 6).as("recall"))
      .groupBy("arm")
      .agg(round(avg("recall"), 4).as("avg_recall"),
        count(lit(1)).as("n_queries"))
      .collect()
    val byArm = graded.map(r => r.getInt(0) ->
      (r.getDouble(1), r.getLong(2))).toMap
    val firstMeeting = arms.find(a =>
      byArm.get(a).exists(_._1 >= targetRecall))
    val chosenArm = firstMeeting.getOrElse(arms.last)
    arms.flatMap { a =>
      byArm.get(a).map { case (rec, nq) => (a, rec, nq, a == chosenArm) }
    }.toDF("arm", "avg_recall", "n_queries", "chosen")
  }

  /** Grade `arms` (ascending cost order) on `queries` vs exact ground
    * truth over `corpus`; returns one row per arm
    * `(arm, avg_recall, n_queries, chosen)` — see [[gradeArms]] for the
    * grading and choice semantics.
    *
    * `searchAt` runs the family's search at one operating point;
    * `dumpArm` lets the certification queries persist each arm's raw
    * predictions for the cross-engine oracle (identity by default);
    * `gtOpt` passes a pre-computed (query_id, vec_id) ground truth so
    * several sweeps — and the recall queries — share one exact scan
    * (the caller keeps ownership: it is not unpersisted here). */
  def sweep(arms: Seq[Int], queries: DataFrame, corpus: DataFrame, k: Int,
            targetRecall: Double,
            searchAt: Int => DataFrame,
            metric: ExactNN.Metric = ExactNN.L2,
            dumpArm: (Int, DataFrame) => DataFrame = (_, df) => df,
            gtOpt: Option[DataFrame] = None)
      : DataFrame = {
    require(arms.nonEmpty, "AutoTune.sweep: empty arm list")
    require(arms == arms.sorted && arms.distinct == arms,
      s"AutoTune.sweep: arms must be strictly ascending (got $arms)")
    val (gt, ownGt) = gtOpt match {
      case Some(g) => (g.select("query_id", "vec_id"), false)
      case None =>
        val g = ExactNN.topK(queries, corpus, k, metric)
          .select("query_id", "vec_id").persist()
        g.count()
        (g, true)
    }
    try {
      val preds = arms.map { a =>
        dumpArm(a, searchAt(a))
          .select(col("query_id"), col("vec_id"))
          .withColumn("arm", lit(a))
      }.reduce(_ unionByName _)
      gradeArms(arms, preds, gt, targetRecall)
    } finally if (ownGt) gt.unpersist(false)
  }

  /** IVF sweep over `nProbe` (cells probed per query). Each arm is an
    * independent `withNProbe(p).searchAll` — the simple form;
    * [[sweepIvfNProbeShared]] is the row-identical one-scan form. */
  def sweepIvfNProbe(idx: IvfIndex, queries: DataFrame, k: Int,
                     arms: Seq[Int], targetRecall: Double,
                     metric: ExactNN.Metric = ExactNN.L2,
                     dumpArm: (Int, DataFrame) => DataFrame = (_, df) => df,
                     gtOpt: Option[DataFrame] = None)
      : DataFrame =
    sweep(arms, queries, idx.vectors, k, targetRecall,
      p => idx.withNProbe(p).searchAll(queries, k, metric),
      metric, dumpArm, gtOpt)

  /** Whether the shared-scan sweep's persisted footprint fits a row
    * budget: the scored frame is ~ |queries| × |corpus| × maxArm/nCells
    * rows (see [[sweepIvfNProbeShared]]). Public so callers and specs
    * can replay the dispatch decision. */
  def sharedSweepFits(nQueries: Long, nCorpus: Long, maxArm: Int,
                      nCells: Int, maxSharedRows: Long): Boolean =
    nQueries.toDouble * nCorpus * maxArm / math.max(1, nCells) <=
      maxSharedRows.toDouble

  /** [[sweepIvfNProbe]] with the candidate scan SHARED across arms:
    * probe ordering is deterministic by (distance, cell), so arm p's
    * probe set is exactly the first p cells of the max arm's ordering
    * — and each vector lives in exactly one cell, so scoring the max
    * arm's candidates ONCE with the probe rank carried lets every
    * smaller arm cut `probe_rank < p` from the same persisted frame.
    * Collapses |arms| corpus-candidate scans to one; per-arm work
    * shrinks to a filter + the bounded TopK over the persisted frame.
    * Row-identical to the per-arm form (AutoTuneSpec pins all arms).
    *
    * Footprint: the persisted scored frame is |queries| × corpus ×
    * maxArm/nCells rows — at maxArm == nCells, the full queries ×
    * corpus product (which the per-arm form never materializes past
    * the map side). That is bounded ONLY because `queries` is
    * contractually the small validation sample (the [[sweep]]
    * scale-shape doc) — and the contract is now EXECUTABLE: when the
    * estimate exceeds `maxSharedRows` ([[sharedSweepFits]]), this
    * method logs the decision and dispatches to the row-identical
    * per-arm [[sweepIvfNProbe]], paying the scans instead of the
    * persist. The two counts it needs are one aggregate each. */
  def sweepIvfNProbeShared(idx: IvfIndex, queries: DataFrame, k: Int,
                           arms: Seq[Int], targetRecall: Double,
                           metric: ExactNN.Metric = ExactNN.L2,
                           dumpArm: (Int, DataFrame) => DataFrame =
                             (_, df) => df,
                           gtOpt: Option[DataFrame] = None,
                           maxSharedRows: Long = 50000000L): DataFrame = {
    require(arms.nonEmpty, "sweepIvfNProbeShared: empty arm list")
    val guards = par(() => queries.count(), () => idx.vectors.count())
    if (!sharedSweepFits(guards(0), guards(1), arms.max,
        idx.model.config.nCells, maxSharedRows)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"sweepIvfNProbeShared: estimated scored-scan footprint exceeds " +
          s"maxSharedRows=$maxSharedRows for arms=$arms over this " +
          "corpus/validation set — dispatching to the row-identical " +
          "per-arm sweep (one search per arm, nothing persisted " +
          "corpus-sized).")
      return sweepIvfNProbe(idx, queries, k, arms, targetRecall, metric,
        dumpArm, gtOpt)
    }
    val scored = sharedScoredScan(idx, queries, arms.max, metric)
    try
      sweep(arms, queries, idx.vectors, k, targetRecall,
        p => sharedArmTopK(scored, p, k),
        metric, dumpArm, gtOpt)
    finally scored.unpersist(false)
  }

  /** The shared scan both shared-sweep forms cut from: every candidate
    * of the MAX arm scored once, probe rank carried. Persisted —
    * callers unpersist. */
  private def sharedScoredScan(idx: IvfIndex, queries: DataFrame,
                               maxArm: Int,
                               metric: ExactNN.Metric): DataFrame = {
    val m = idx.withNProbe(maxArm).model
    val probes = queries
      .select(col("query_id"),
        posexplode(graft.ann.ivf.IvfExpressions.ivfProbes(m, col("qv"))))
      .select(col("query_id"), col("pos").as("probe_rank"),
        col("col").as("cell"))
    val scored = idx.cells
      .join(broadcast(probes), "cell")
      .select("query_id", "vec_id", "probe_rank")
      .join(idx.vectors, "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"), col("probe_rank"),
        round(metric.dist(col("qv"), col("embedding")), 6).as("dist"))
      .persist()
    scored.count()
    scored
  }

  private def sharedArmTopK(scored: DataFrame, p: Int, k: Int): DataFrame =
    graft.ann.TopK.perQueryTopK(
      scored.where(col("probe_rank") < p)
        .select("query_id", "vec_id", "dist"),
      k)

  /** EVERY arm's predictions of the shared-scan sweep as ONE frame
    * (arm, query_id, vec_id, dist) — the certification-dump form: the
    * caller writes one parquet table instead of |arms| round-trips and
    * grades the reloaded frame with [[gradeArms]]. Row-identical per
    * arm to [[sweepIvfNProbeShared]]'s searches (same scored scan, same
    * rank cut, same TopK), with the SAME footprint guard: past
    * `maxSharedRows` ([[sharedSweepFits]]) the arms run as independent
    * searches instead of persisting a corpus-sized scored scan. */
  def ivfNProbeSharedPreds(idx: IvfIndex, queries: DataFrame, k: Int,
                           arms: Seq[Int],
                           metric: ExactNN.Metric = ExactNN.L2,
                           maxSharedRows: Long = 50000000L): DataFrame = {
    require(arms.nonEmpty, "ivfNProbeSharedPreds: empty arm list")
    require(arms == arms.sorted && arms.distinct == arms,
      s"ivfNProbeSharedPreds: arms must be strictly ascending (got $arms)")
    def combined(armPred: Int => DataFrame): DataFrame =
      graft.text.Dedup.materializeRelease(
        arms.map(p => armPred(p).withColumn("arm", lit(p)))
          .reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")))
    val guards = par(() => queries.count(), () => idx.vectors.count())
    if (!sharedSweepFits(guards(0), guards(1), arms.max,
        idx.model.config.nCells, maxSharedRows)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ivfNProbeSharedPreds: estimated scored-scan footprint exceeds " +
          s"maxSharedRows=$maxSharedRows for arms=$arms — running the " +
          "arms as independent searches (row-identical).")
      return combined(p => idx.withNProbe(p).searchAll(queries, k, metric))
    }
    val scored = sharedScoredScan(idx, queries, arms.max, metric)
    // materializeRelease inside `combined` runs before the unpersist
    try combined(p => sharedArmTopK(scored, p, k))
    finally scored.unpersist(false)
  }

  /** IVF-PQ sweep over `rerankDepth` — the compressed families' recall
    * knob (the quantized scan orders candidates only coarsely; the
    * exact re-rank over the top `depth` does the last stretch, and
    * depth must scale with probed rows — the SCALE.md rerank-depth
    * rule this sweep finds the floor of empirically). `vectors` is the
    * float table re-ranking reads ((vec_id, embedding), L2 — the
    * metric `IvfPqIndex.searchRerank` serves). */
  def sweepIvfPqRerankDepth(idx: graft.ann.ivfpq.IvfPqIndex,
                            queries: DataFrame, vectors: DataFrame, k: Int,
                            arms: Seq[Int], targetRecall: Double,
                            dumpArm: (Int, DataFrame) => DataFrame =
                              (_, df) => df,
                            gtOpt: Option[DataFrame] = None): DataFrame =
    sweep(arms, queries, vectors, k, targetRecall,
      d => idx.searchRerank(queries, vectors, k, rerankDepth = d),
      ExactNN.L2, dumpArm, gtOpt)

  /** BQ sweep over the Hamming candidate depth — the binary family's
    * recall knob (1 bit/dim orders only coarsely, so the depth the
    * exact rerank re-orders must scale with the corpus fraction the
    * scan is trusted to rank; SCALE.md's depth rule, found empirically
    * here instead of hand-set). Each arm is one Hamming scan to depth d
    * plus the exact rerank tail ([[graft.ann.bq.BqIndex.searchRerank]],
    * the deployment shape); `vectors` is the float table the rerank
    * reads. Completes the tuning matrix's compressed-scan edge next to
    * [[sweepSqRerankDepth]]. */
  def sweepBqDepth(idx: graft.ann.bq.BqIndex, queries: DataFrame,
                   vectors: DataFrame, k: Int, arms: Seq[Int],
                   targetRecall: Double,
                   metric: ExactNN.Metric = ExactNN.L2,
                   dumpArm: (Int, DataFrame) => DataFrame = (_, df) => df,
                   gtOpt: Option[DataFrame] = None): DataFrame =
    sweep(arms, queries, vectors, k, targetRecall,
      d => idx.searchRerank(queries, vectors, k, rerankDepth = d, metric),
      metric, dumpArm, gtOpt)

  /** SQ sweep over `rerankDepth` — same knob semantics as the BQ depth
    * (the 8-bit scan ranks nearly exactly, so depth floors low; the
    * sweep proves it instead of assuming it). */
  def sweepSqRerankDepth(idx: graft.ann.sq.SqIndex, queries: DataFrame,
                         vectors: DataFrame, k: Int, arms: Seq[Int],
                         targetRecall: Double,
                         dumpArm: (Int, DataFrame) => DataFrame =
                           (_, df) => df,
                         gtOpt: Option[DataFrame] = None): DataFrame =
    sweep(arms, queries, vectors, k, targetRecall,
      d => idx.searchRerank(queries, vectors, k, rerankDepth = d),
      ExactNN.L2, dumpArm, gtOpt)

  /** LSH sweep over the number of trees probed (the forest-density
    * knob of SCALE.md's round-8 sweep: leaner forests walk the
    * latency/recall curve down smoothly once occupancy is sized). */
  def sweepLshTrees(idx: LshIndex, queries: DataFrame, k: Int,
                    arms: Seq[Int], targetRecall: Double,
                    metric: ExactNN.Metric = ExactNN.L2,
                    distanceThreshold: Double = Double.MaxValue,
                    dumpArm: (Int, DataFrame) => DataFrame = (_, df) => df,
                    gtOpt: Option[DataFrame] = None)
      : DataFrame =
    sweep(arms, queries, idx.vectors, k, targetRecall,
      t => idx.withTrees(t).searchAll(queries, k, distanceThreshold, metric),
      metric, dumpArm, gtOpt)

  /** Shared-probes sweep of the labeled/scoped probe budget
    * (`maxProbeBuckets` — the round-17 serving knob of
    * [[graft.ann.lsh.LabeledLshIndex.searchAllLabeled]] and the scoped
    * views): ONE probe ranking at the max arm, ONE scored candidate
    * pass, smaller arms cut by each candidate's MINIMUM entry rank —
    * row-identical to the per-arm serve because the centroid ranking
    * has the prefix property (rank is computed over ALL of the label's
    * buckets, then cut), so budget-m probes are exactly the max-arm
    * probes with `probe_rank < m`, and a candidate serves at budget m
    * iff ANY of its buckets is probed there (`min_rank < m`). |arms|×
    * fewer probe rankings and candidate scans than the naive sweep;
    * the identity is spec-pinned (ScopedBucketSpec). Returns
    * `(arm, query_id, vec_id, dist)` for [[gradeArms]] / the
    * certification dump. `queries` must carry the store's label column
    * (for a scoped view: the reserved
    * [[graft.ann.FilteredSearch.ScopedLabel]]). */
  def scopedMSharedPreds(store: graft.ann.lsh.LabeledLshIndex,
                         queries: DataFrame, k: Int, threshold: Double,
                         arms: Seq[Int],
                         metric: ExactNN.Metric = ExactNN.L2,
                         roundTo: Int = 6,
                         maxSharedRows: Long = 50000000L): DataFrame = {
    require(arms.nonEmpty, "scopedMSharedPreds: empty arm list")
    require(arms == arms.sorted && arms.distinct == arms,
      s"scopedMSharedPreds: arms must be strictly ascending (got $arms)")
    // the sibling ivfNProbeSharedPreds' executable footprint contract:
    // the persisted scored frame is |queries| × rows × maxArm/buckets;
    // past maxSharedRows, run the arms as independent serves instead
    // (row-identical — the same per-arm path the identity spec pins).
    // The bucket count reads the BOUNDED sidecar; rows one aggregate.
    // The three guard counts are independent one-row aggregates — run
    // them concurrently (stage latency, not compute).
    val guards = par(
      () => store.bucketCentroids.count(),
      () => queries.count(),
      () => store.vectors.count())
    val (nBuckets, nQueries, nVectors) = (guards(0), guards(1), guards(2))
    if (!sharedSweepFits(nQueries, nVectors, arms.max,
        math.max(1, nBuckets).toInt, maxSharedRows)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"scopedMSharedPreds: estimated scored-scan footprint exceeds " +
          s"maxSharedRows=$maxSharedRows for arms=$arms — running the " +
          "arms as independent serves (row-identical).")
      return graft.text.Dedup.materializeRelease(
        arms.map(m => store.searchAllLabeled(queries, k, threshold,
            metric, roundTo, maxProbeBuckets = m).withColumn("arm", lit(m)))
          .reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")))
    }
    val pr = store.scopedProbeRows(queries, arms.max, metric)
    val entry = store.labeledBuckets
      .join(broadcast(pr.select("label", "tree_id", "hash", "query_id",
        "probe_rank")), Seq("label", "tree_id", "hash"))
      .groupBy("query_id", "vec_id").agg(min("probe_rank").as("min_rank"))
    val scored = entry
      .join(store.vectors, "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        "query_id")
      .select(col("query_id"), col("vec_id"), col("min_rank"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"))
      .where(col("dist") <= threshold)
      .persist()
    scored.count()
    try graft.text.Dedup.materializeRelease(
      arms.map(m => TopK.perQueryTopK(
          scored.where(col("min_rank") < m)
            .select("query_id", "vec_id", "dist"),
          k)
        .withColumn("arm", lit(m)))
        .reduce(_ unionByName _)
        .select(col("arm"), col("query_id"), col("vec_id"), col("dist")))
    finally scored.unpersist(false)
  }

  /** Graph sweep over `beamWidth` — the graph family's cost knob
    * (per-hop work is beamWidth × degree; recall grows with the beam
    * because a wider frontier survives more local minima — the
    * SCALE.md beam-block sweep, walked automatically). Completes the
    * tuning matrix: LSH trees / IVF nProbe / PQ rerankDepth / graph
    * beam. Arms must all be ≥ k ([[GraphSearch.beamFrom]]'s
    * precondition). `entries` is the per-query entry set
    * ((query_id, node) — global entries crossed with the query set, or
    * the coarse-index seeds of the scale form). */
  def sweepGraphBeam(graph: DataFrame, vectors: DataFrame, idCol: String,
                     vecCol: String, queries: DataFrame, entries: DataFrame,
                     k: Int, hops: Int, arms: Seq[Int], targetRecall: Double,
                     metric: ExactNN.Metric = ExactNN.Cosine,
                     dumpArm: (Int, DataFrame) => DataFrame = (_, df) => df,
                     gtOpt: Option[DataFrame] = None): DataFrame = {
    require(arms.forall(_ >= k),
      s"sweepGraphBeam: every beamWidth arm must be >= k=$k (got $arms)")
    sweep(arms, queries,
      vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      k, targetRecall,
      b => GraphSearch.beamFrom(graph, vectors, idCol, vecCol, queries,
        entries, k, b, hops, metric),
      metric, dumpArm, gtOpt)
  }
}
