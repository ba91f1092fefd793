package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.ExactNN
import graft.ann.lsh.Forest.{Leaf, Plane, Split, TreeNode}

/** LSH index configuration (reference `Config`, lsh/lsh.go:79-82 +
  * hasher.go:59-64).
  *
  *   - `dims` is intentionally absent: the reference declares it but never
  *     reads it — dimensionality derives from the data (hasher.go:104,
  *     SURVEY.md §1.2).
  *   - `batchSize` is absent: train parallelism is Spark task partitioning,
  *     not a goroutine batch knob (lsh.go:112-131).
  *   - `sampleCap` bounds the driver-side forest-fit sample — the 100 TB
  *     scaling deviation documented in SURVEY.md §7.3: the reference fits
  *     every tree over ALL vectors in RAM, which cannot hold at scale.
  */
final case class LshConfig(
    nTrees: Int = 10,
    kMinVecs: Int = 50,
    angular: Boolean = false,
    seed: Long = 42L,
    sampleCap: Int = 100000) {

  /** Rows the forest fit actually sees for a corpus of `total`. */
  def fitSampleSize(total: Long): Long = math.min(total, sampleCap.toLong)

  /** Expected per-bucket occupancy when indexing `total` vectors:
    * `kMinVecs` bounds leaf size only over the FIT SAMPLE, so a corpus
    * c× the sample fills each leaf's bucket with ~c×kMinVecs corpus
    * vectors. This is the sizing rule for the corpus ≫ sample regime
    * (measured at GloVe scale, SCALE.md): occupancy inflation makes
    * per-probe candidate sets — and therefore search cost — grow by the
    * same c, so size `sampleCap ≳ total / 3` (driver-memory permitting)
    * or bound downstream work with [[LshIndex.cappedBuckets]] /
    * `maxCandidates`. */
  def expectedOccupancy(total: Long): Double =
    kMinVecs.toDouble * total / math.max(1L, fitSampleSize(total))
}

/** Fitted forest + Spark-side transform (reference `Hasher` + the hashing
  * half of `LSHIndex.Train`, lsh.go:106-134). The forest is a small
  * driver-side object captured in a UDF closure — Spark broadcasts it with
  * the task closure; hashing is then map-side only (no shuffle). */
final class LshModel(val config: LshConfig, val trees: Array[TreeNode])
    extends Serializable {

  import LshModel._

  /** The fitted dimension: every plane's normal has this length. -1 for
    * a forest of leaves, which has no planes and hashes any length. */
  private[lsh] lazy val dims: Int =
    trees.collectFirst { case Split(p, _, _) => p.normal.length }.getOrElse(-1)

  /** All per-tree hashes of one (already double-widened) vector —
    * normalizes first in angular mode (reference getHashes,
    * hasher.go:191-219: pass-through when norm <= tol). */
  def hashes(v: Array[Double]): Array[Long] = {
    val vv =
      if (!config.angular) v
      else {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n = math.sqrt(s)
        if (n <= Forest.Tol) v else v.map(_ / n)
      }
    trees.map(t => Forest.hash(t, vv))
  }

  /** Per-tree probe pair: own bucket + highest-set-bit-flip neighbor
    * (reference Search, lsh.go:146-155). Flat layout: index 2t = tree t's
    * own hash, 2t+1 = its neighbor probe. */
  def probes(v: Array[Double]): Array[Long] =
    hashes(v).flatMap(h => Array(h, Forest.neighborHash(h)))

  /** All per-tree hashes reading straight out of Tungsten ArrayData —
    * the expression path ([[LshHashesExpr]]): in the non-angular case the
    * tree walk touches the array in place with zero per-row allocation;
    * angular normalization needs one scratch copy (the normalized vector
    * feeds every tree). */
  def hashesData(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 isFloat: Boolean): Array[Long] = {
    if (!config.angular) {
      val out = new Array[Long](trees.length)
      var t = 0
      while (t < trees.length) { out(t) = Forest.hashData(trees(t), a, isFloat); t += 1 }
      out
    } else {
      val n = a.numElements()
      val v = new Array[Double](n)
      var s = 0.0; var i = 0
      while (i < n) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        v(i) = x; s += x * x; i += 1
      }
      val norm = math.sqrt(s)
      if (norm > Forest.Tol) { var j = 0; while (j < n) { v(j) /= norm; j += 1 } }
      trees.map(t => Forest.hash(t, v))
    }
  }

  def probesData(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 isFloat: Boolean): Array[Long] =
    hashesData(a, isFloat).flatMap(h => Array(h, Forest.neighborHash(h)))

  /** (id, tree_id, hash) bucket rows for every input vector — the index
    * "write path" (reference Train's SetHash loop, lsh.go:123-128),
    * reshaped as one narrow DataFrame. Map-side only; the hash compute is
    * a native expression, not a UDF, so rows never round-trip through
    * Scala encoders on the 100 TB train path. */
  def transform(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
        col(idCol),
        posexplode(LshExpressions.lshHashes(this, col(vecCol))))
      .select(col(idCol), col("pos").as("tree_id"), col("col").as("hash"))

  /** (query-id, tree_id, hash) probe rows: two per tree per query. */
  def probeRows(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(
        col(idCol),
        posexplode(LshExpressions.lshProbes(this, col(vecCol))))
      .select(col(idCol), (col("pos") / 2).cast(IntegerType).as("tree_id"),
        col("col").as("hash"))

  /** Persist as two parquet tables under `path`: flattened tree nodes and
    * a one-row meta table — the Spark-native stand-in for the reference's
    * gob dump (hasher.go:222-251; format is ours to define, SURVEY.md O22). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val rows = trees.zipWithIndex.flatMap { case (t, ti) => flatten(t, ti) }
    spark.createDataset(rows).toDF()
      .write.mode("overwrite").parquet(s"$path/nodes")
    Seq((config.nTrees, config.kMinVecs, config.angular, config.seed, config.sampleCap))
      .toDF("n_trees", "k_min_vecs", "angular", "seed", "sample_cap")
      .write.mode("overwrite").parquet(s"$path/meta")
  }
}

object LshModel {

  /** One flattened tree node; `nodeId` is preorder, -1 = Leaf child. */
  private[lsh] final case class NodeRow(
      treeId: Int, nodeId: Int, leftId: Int, rightId: Int,
      normal: Array[Double], offset: Double)

  private[lsh] def flatten(root: TreeNode, treeId: Int): Seq[NodeRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[NodeRow]
    var nextId = 0
    def walk(n: TreeNode): Int = n match {
      case Leaf => -1
      case Split(p, l, r) =>
        val id = nextId; nextId += 1
        val idx = out.length
        out += NodeRow(treeId, id, -1, -1, p.normal, p.offset) // placeholder
        val li = walk(l); val ri = walk(r)
        out(idx) = NodeRow(treeId, id, li, ri, p.normal, p.offset)
        id
    }
    walk(root)
    out.toSeq
  }

  private[lsh] def unflatten(rows: Seq[NodeRow]): TreeNode = {
    if (rows.isEmpty) return Leaf
    val byId = rows.map(r => r.nodeId -> r).toMap
    def build(id: Int): TreeNode =
      if (id < 0) Leaf
      else {
        val r = byId(id)
        Split(Plane(r.normal, r.offset), build(r.leftId), build(r.rightId))
      }
    build(0)
  }

  def load(spark: SparkSession, path: String): LshModel = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").head()
    val config = LshConfig(
      nTrees = meta.getAs[Int]("n_trees"),
      kMinVecs = meta.getAs[Int]("k_min_vecs"),
      angular = meta.getAs[Boolean]("angular"),
      seed = meta.getAs[Long]("seed"),
      sampleCap = meta.getAs[Int]("sample_cap"))
    val nodes = spark.read.parquet(s"$path/nodes")
      .select($"treeId", $"nodeId", $"leftId", $"rightId", $"normal", $"offset")
      .as[NodeRow].collect()
    val trees = (0 until config.nTrees).map { ti =>
      unflatten(nodes.filter(_.treeId == ti).toSeq)
    }.toArray
    new LshModel(config, trees)
  }
}

/** A trained index: the fitted model plus the two persisted-shape
  * DataFrames (reference `Store` namespaces, store/store.go:12-18 →
  * SURVEY.md §1.1: `vectors(id, vec)` + `buckets(tree_id, hash, id)`). */
object LshIndex {
  /** Local-neighborhood cut for the filtered-dispatch density estimate
    * ([[LshIndex.localAllowedCounts]]) — the graph family's beamWidth
    * analog, and the same 32 the graph queries serve with. */
  val DefaultLocalBeamWidth = 32
}

final class LshIndex(
    val model: LshModel,
    val vectors: DataFrame, // (vec_id, embedding)
    val buckets: DataFrame  // (tree_id, hash, vec_id)
) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Batch ANN search (reference Search, lsh.go:137-197), Spark-first:
    *
    *   1. probe generation: 2 buckets per tree per query (own + flipped
    *      highest bit) — map-side explode;
    *   2. candidate retrieval: probes ⋈ buckets on (tree_id, hash) — the
    *      probe side is tiny and broadcast, so the big buckets table is
    *      never shuffled (= the reference's bucket pruning, its whole
    *      point, SURVEY.md §4);
    *   3. dedup (query_id, vec_id) — reference closestSet (lsh.go:169-171);
    *   4. vec join + distance + threshold filter (lsh.go:172-177);
    *   5. bounded per-query top-k ([[graft.ann.TopK.perQueryTopK]], the
    *      reference min-heap pop, lsh.go:192-195), ties pinned by vec_id
    *      for determinism.
    *
    * Deviation (SURVEY.md §7.4): the reference's `MaxCandidates` early
    * exit is nondeterministic (Go map iteration order decides which
    * buckets win); by default we evaluate all probed candidates — a
    * strict superset, recall can only improve. Passing `maxCandidates`
    * restores the bounded-work semantics deterministically: candidates
    * are capped per query in vec_id order BEFORE the distance compute,
    * which is the memory bound that matters when a hot bucket explodes
    * at scale. When `allowed` is ALSO set, the allow-list filter runs
    * first and the cap applies to allowed candidates only (filter →
    * cap → score; LshIndexSpec pins the composition).
    */
  def searchAll(queries: DataFrame, k: Int, distanceThreshold: Double,
                metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                maxCandidates: Option[Int] = None,
                allowed: Option[DataFrame] = None): DataFrame = {
    val uncapped = probedCandidates(queries)
    // Constrained (metadata-filtered) search: the (vec_id) allow-list —
    // typically the output of a metadata predicate — lands BETWEEN
    // candidate retrieval and scoring, so disallowed candidates are
    // dropped before any distance is computed and before the top-k cut
    // (a post-filtered top-k would return fewer than k allowed rows).
    // It ALSO runs before `maxCandidates`, so disallowed rows never
    // consume cap slots — the cap's contract is "at most `cap` ALLOWED
    // candidates per query". Join shape: no forced broadcast hint on
    // either side. The candidate side is bounded (queries × probes ×
    // occupancy) only when the caller composed [[cappedBuckets]] /
    // `maxCandidates`; an uncapped hot-bucket corpus can push it past
    // driver memory, so the build-side choice is left to Catalyst/AQE,
    // which broadcasts the candidate set when its MEASURED size is
    // small and degrades to a vec_id-partitioned shuffle join instead
    // of an OOM when it is not. The allow-list side stays a scan with
    // its metadata predicate pushed down either way. Only probed
    // candidates are tested — the standard filtered-ANN trade, recall
    // graded against the FILTERED exact ground truth by
    // q_lsh_filtered_recall. For highly selective filters use
    // [[searchAllFiltered]], which dispatches to an exact scan over
    // the allowed subset (the probe candidate set degenerates toward
    // empty and the brute-force side is tiny).
    // (dedup AFTER the join: it runs on the join output, where a
    // distinct() on the allow-list side would shuffle the whole
    // corpus-scale id set just to guard against duplicate allow rows)
    val filtered = allowed.fold(uncapped)(a =>
      filterCandidates(uncapped, a.select("vec_id")))
    val cands = maxCandidates.fold(filtered) { cap =>
      val cw = Window.partitionBy("query_id").orderBy("vec_id")
      filtered.withColumn("crn", row_number().over(cw))
        .where(col("crn") <= cap).drop("crn")
    }
    scoreTopK(cands, queries, k, distanceThreshold, metric, roundTo)
  }

  /** Candidate retrieval — steps 1-3 of [[searchAll]]'s pipeline,
    * shared with the density-aware filtered dispatch so the dispatch's
    * observable and the search's candidate set can never drift. */
  private def probedCandidates(queries: DataFrame): DataFrame = {
    // Probe dedup WITHOUT an Exchange: probes are generated one array
    // per query row, so duplicate (tree_id, hash) pairs can only occur
    // within that row's own array (a bucket whose bit-flip neighbor is
    // itself) — array_distinct over (tree_id, hash) structs replaces
    // the old dropDuplicates shuffle, one fewer scheduled exchange on
    // EVERY LSH search. Identical candidate rows: the per-query
    // distinct set of (tree_id, hash) is unchanged (callers passing a
    // duplicated query row are collapsed by the candidate-level dedup
    // below, as before).
    val probes = queries.select(col("query_id"),
        explode(array_distinct(transform(
          LshExpressions.lshProbes(model, col("qv")),
          (h, i) => struct((i / 2).cast(IntegerType).as("tree_id"),
            h.as("hash"))))).as("p"))
      .select(col("query_id"), col("p.tree_id").as("tree_id"),
        col("p.hash").as("hash"))
    buckets
      .join(broadcast(probes.select("query_id", "tree_id", "hash")),
        Seq("tree_id", "hash"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
  }

  /** The allow-list filter on a candidate set (the join-shape notes in
    * [[searchAll]]'s body apply). */
  private def filterCandidates(cands: DataFrame, ids: DataFrame): DataFrame =
    ids.join(cands, "vec_id")
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")

  /** Steps 4-5 of [[searchAll]]'s pipeline: vec join + distance +
    * threshold + per-query top-k — the
    * [[graft.ann.CandidateScoring.scoreTopK]] shared tail. */
  private def scoreTopK(cands: DataFrame, queries: DataFrame, k: Int,
                        distanceThreshold: Double, metric: ExactNN.Metric,
                        roundTo: Int): DataFrame =
    graft.ann.CandidateScoring.scoreTopK(cands, vectors, queries, k,
      Some(distanceThreshold), metric, roundTo)

  /** Label-partitioned view of this index — the IN-FAMILY remediation
    * the density dispatch's `probe_starved` / bimodal warnings name
    * (see [[LabeledLshIndex]]): the SAME fitted forest, the buckets
    * table re-keyed by the composite `(label, tree_id, hash)`. One
    * build-time join on vec_id; no refit. `labels` is `(vec_id,
    * label)`; multi-label rows land in every partition their labels
    * name (dup rows are collapsed, conflicting labels are both kept —
    * the multi-label semantics). */
  def withLabels(labels: DataFrame,
                 centroidTrees: Int =
                   LabeledLshIndex.DefaultCentroidTrees): LabeledLshIndex =
    new LabeledLshIndex(model, vectors,
      buckets.join(
        labels.select(col("vec_id"), col("label").cast("string").as("label"))
          .dropDuplicates("vec_id", "label"),
        "vec_id")
        .select("label", "tree_id", "hash", "vec_id"),
      centroidTrees)

  /** Allow-list-SCOPED view of this index: the allow-list as a
    * TRANSIENT single-label partition
    * ([[graft.ann.FilteredSearch.ScopedLabel]]) of the SAME fitted
    * forest — [[LabeledLshIndex]]'s label-conditional centroid ranking
    * applied to an ARBITRARY predicate at serve time, where
    * [[withLabels]] needs a label column and a store build. One join
    * on vec_id; the centroid sidecar is the aggregate over the ALLOWED
    * rows' tree-0 buckets (≤ the fitted forest's leaf count —
    * corpus-independent), computed lazily on first serve. A serving
    * loop over a stable predicate should hold this view across
    * batches so the sidecar is paid once. */
  def scopedTo(allowed: DataFrame,
               centroidTrees: Int =
                 LabeledLshIndex.DefaultCentroidTrees): LabeledLshIndex =
    withLabels(
      allowed.select("vec_id")
        .withColumn("label", lit(graft.ann.FilteredSearch.ScopedLabel)),
      centroidTrees)

  /** [[scopedTo]] under the pre-deduped contract (the
    * `filteredDecisionDeduped` rule): `ids` is already distinct, so
    * the labeled view is built directly and [[withLabels]]'
    * `(vec_id, label)` dedup — a corpus-scale shuffle the caller
    * already paid — is not repeated. Duplicate allow rows would skew
    * the centroid MEANS (each dup counts twice), which is why the
    * public paths dedup exactly once. */
  private[lsh] def scopedToPreDeduped(ids: DataFrame): LabeledLshIndex =
    new LabeledLshIndex(model, vectors,
      buckets.join(ids.select("vec_id"), "vec_id")
        .withColumn("label", lit(graft.ann.FilteredSearch.ScopedLabel))
        .select("label", "tree_id", "hash", "vec_id"))

  /** Allow-scoped centroid probing — the SERVE-TIME in-family
    * remediation for the starved/bimodal regimes
    * ([[searchAllFiltered]]'s `probe_starved` route and
    * `warn_bimodal`) under an arbitrary predicate: rank tree-0's
    * buckets by the distance to the ALLOW-LIST's own within-bucket
    * mean and probe the nearest `maxProbeBuckets` — exactly
    * [[LabeledLshIndex.searchAllLabeled]]'s rule with the allow-list
    * as the (single) label mass, so the measured 1M recovery curves
    * (SCALE.md §filtered ANN, round 17: correlated even-split
    * 0.551 → 0.978 at the default M=64) carry over whenever the
    * allow-list equals a label subset — no label column, no store
    * rebuild, no refit. Results are allowed-only by construction (the
    * scoped view holds only allowed rows). Same scoring tail as
    * [[searchAll]]. Prefer `scopedFallback = true` on
    * [[searchAllFiltered]] to route here only when the density
    * dispatch says the probe path would collapse. */
  def searchAllScoped(queries: DataFrame, allowed: DataFrame, k: Int,
                      distanceThreshold: Double,
                      metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                      maxProbeBuckets: Int =
                        LabeledLshIndex.DefaultMaxProbeBuckets): DataFrame =
    scopedTo(allowed).searchAllLabeled(
      queries.withColumn("label",
        lit(graft.ann.FilteredSearch.ScopedLabel)),
      k, distanceThreshold, metric, roundTo,
      maxProbeBuckets = maxProbeBuckets)

  /** Per-query count of ALLOWED rows among the query's `beamWidth`
    * NEAREST own-leaf candidates — the bucket-index density observable
    * ([[graft.ann.FilteredSearch.routeBucket]]'s input), the exact
    * twin of [[graft.ann.GraphSearch.localAllowedCounts]]: the query's
    * own leaf in ONE tree (`treeId`, no bit-flip fan-out) is its local
    * neighborhood; score it, cut to the beamWidth nearest by the
    * search's own (dist, vec_id) tie order, count allowed. When the
    * MEDIAN query cannot fill k from its nearest local candidates, the
    * filtered top-k must come from buckets the probes never visit and
    * probe-then-filter recall collapses.
    *
    * Negative result, measured (SCALE.md §filtered ANN, round 16) and
    * kept here as a contract: the "free" post-hoc signal — the count
    * of allowed rows among ALL probed candidates — does NOT
    * discriminate. On the 200-cluster dispatch-spec geometry every
    * collapsed arm (probe recall 0.33-0.69) kept its median total
    * allowed-candidate count at 8-38, well above k=5: the probed
    * buckets hold PLENTY of allowed rows, just the wrong (far) ones,
    * and probe-then-filter fills k with them. Starvation for a bucket
    * index is a NEARNESS property, so the estimator must rank — which
    * is why this costs a bounded distance pass (one leaf per query,
    * ≈ 1/(2·nTrees) of the unfiltered scoring work) instead of a
    * metadata aggregate.
    *
    * Queries whose own leaf holds NO rows appear with count 0 —
    * dropping them would overstate the median in exactly the starved
    * regime the signal exists to catch. */
  def localAllowedCounts(queries: DataFrame, allowed: DataFrame,
                         beamWidth: Int,
                         metric: ExactNN.Metric = ExactNN.L2,
                         roundTo: Int = 6, treeId: Int = 0): DataFrame =
    // dedup BEFORE the flag join: the serve path tolerates duplicate
    // allow rows (filterCandidates dedups after its join), so the
    // estimator must too — a doubled allow-list would double-count
    // every allowed row AND double its window slots, inflating the
    // median past k in exactly the starved regime this signal catches
    localAllowedCountsDeduped(queries,
      allowed.select("vec_id").dropDuplicates("vec_id"), beamWidth, metric,
      roundTo, treeId)

  /** [[localAllowedCounts]] under the pre-deduped contract: `ids` is a
    * (vec_id) frame the CALLER already deduplicated —
    * [[searchAllFiltered]]/[[filteredDecision]] dedup the allow-list
    * exactly once at their public boundary and thread it through here,
    * so one filtered serve never chains two or three corpus-scale
    * dropDuplicates shuffles of the same id set (the round-16 ADVICE
    * cost note). */
  private[lsh] def localAllowedCountsDeduped(queries: DataFrame,
                                             ids: DataFrame, beamWidth: Int,
                                             metric: ExactNN.Metric,
                                             roundTo: Int,
                                             treeId: Int = 0): DataFrame = {
    val qHash = model.transform(
        queries.select(col("query_id"), col("qv")), "query_id", "qv")
      .where(col("tree_id") === treeId)
      .select(col("query_id"), col("hash"))
    val cands = buckets.where(col("tree_id") === treeId)
      .join(broadcast(qHash), "hash")
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
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
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
    * makes, as data — specs pin it and `q_lsh_filtered_auto` replays
    * it in DuckDB the way `q_graph_filtered_auto` replays the graph
    * family's. The median (exact, interpolated — `percentile(0.5)`,
    * DuckDB-replayable) of [[localAllowedCounts]] is compared against
    * k: a median query that cannot fill k from its nearest local
    * candidates means probe-then-filter cannot serve the NEAR allowed
    * rows either — it fills k with far ones and recall collapses
    * silently (the measured failure this rule exists to catch). */
  def filteredDecision(queries: DataFrame, allowed: DataFrame, k: Int,
                       beamWidth: Int = LshIndex.DefaultLocalBeamWidth,
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
    // dedup once: duplicate allow rows would inflate the selectivity
    // count AND the estimator (the serve path's filterCandidates
    // dedups after its join; the exact route's vectors join would not)
    filteredDecisionDeduped(queries,
      allowed.select("vec_id").dropDuplicates("vec_id"), k, beamWidth,
      metric, roundTo, maxExactFraction, maxAutoExactFraction,
      allowedCount, corpusCount, densityDispatch)

  /** [[filteredDecision]] under the pre-deduped contract (see
    * [[localAllowedCountsDeduped]]). */
  private[lsh] def filteredDecisionDeduped(queries: DataFrame,
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

  /** Selectivity-aware constrained search — the production answer to
    * the measured correlated-filter failure mode (SCALE.md §filtered
    * ANN: probe-then-filter recall 0.513 at 1M under a
    * geometry-correlated filter). Dispatch rule
    * ([[graft.ann.FilteredSearch.useExactScan]]): when the allow-list
    * is at most `maxExactFraction` of the corpus, brute-force the
    * allowed subset exactly — [[ExactNN.topK]]'s broadcast-queries
    * scan over only the allowed rows, recall 1.0 by construction and
    * cheap precisely because the filter is selective; otherwise run the
    * probe-then-filter path ([[searchAll]] with `allowed`). Both counts
    * are one scan-side aggregate each; pass `allowedCount` /
    * `corpusCount` when the caller already knows them (e.g. the
    * predicate's selectivity is tracked upstream) to skip the jobs.
    *
    * Density dispatch (the graph family's round-15 rule, applied to
    * the bucket index in round 16): ABOVE the cutoff, probe-then-filter
    * recall is governed by whether the query's NEAR allowed rows sit in
    * probed buckets, which mere selectivity does not see — the
    * bucketed twin of the graph walk's measured 0.22-at-10% collapse,
    * with one twist the measurement forced (see
    * [[localAllowedCounts]]): the probed buckets usually hold enough
    * allowed rows to FILL k, just far ones, so the search returns
    * complete result sets at collapsed recall with nothing underfilled
    * to observe. The estimator therefore ranks the query's own-leaf
    * neighborhood (one tree, beamWidth nearest) and counts allowed —
    * the graph estimator's exact shape at ≈ 1/(2·nTrees) of one
    * search's scoring work. When the MEDIAN query cannot fill k from
    * its nearest local candidates ([[graft.ann.FilteredSearch
    * .routeBucket]]):
    *
    *  - subset ≤ `maxAutoExactFraction` of the corpus → serve the
    *    exact subset scan (route `exact_density` — recall 1.0 at the
    *    measured ≤15% cost-parity ceiling);
    *  - subset too large to scan → route `probe_starved`: with
    *    `scopedFallback = true` the serve upgrades to allow-scoped
    *    centroid probing ([[searchAllScoped]] — serve-time, any
    *    predicate, no rebuild; one extra centroid aggregate over the
    *    allowed rows' tree-0 buckets); at the default the probe path
    *    serves with a logged warning naming the measured risk and the
    *    in-family fixes ([[searchAllScoped]], or the label-partitioned
    *    store [[withLabels]] → `searchAllLabeled` for stored
    *    label-equality predicates; "add trees" is measured-ineffective
    *    here, SCALE.md §filtered ANN: nTrees 20→40 moved 0.513→0.531).
    *    `scopedFallback` also upgrades the BIMODAL regime (route
    *    `probe` with `warn_bimodal` — the median query is dense, the
    *    lower-quartile query is starved).
    *
    * `densityDispatch = false` restores the selectivity-only rule
    * (and skips the estimator's one-leaf cost). The decision itself
    * is available as data via [[filteredDecision]];
    * `q_lsh_filtered_auto` replays it cross-engine. A serving loop
    * over a STABLE predicate should compute [[filteredDecision]] once
    * and pass it as `decision` — the counts pass and the one-leaf
    * estimator are then skipped entirely and the call only routes
    * (the graph family's `knownCounts` pattern, one level further).
    *
    * @param allowed (vec_id) allow-list — extra columns are ignored
    */
  def searchAllFiltered(queries: DataFrame, allowed: DataFrame, k: Int,
                        distanceThreshold: Double,
                        metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                        maxExactFraction: Double =
                          graft.ann.FilteredSearch.DefaultMaxExactFraction,
                        allowedCount: Option[Long] = None,
                        corpusCount: Option[Long] = None,
                        maxAutoExactFraction: Double =
                          graft.ann.FilteredSearch.DefaultMaxAutoExactFraction,
                        densityDispatch: Boolean = true,
                        localBeamWidth: Int =
                          LshIndex.DefaultLocalBeamWidth,
                        decision: Option[graft.ann.FilteredSearch.Decision] =
                          None,
                        scopedFallback: Boolean = false,
                        scopedMaxProbeBuckets: Int =
                          LabeledLshIndex.DefaultMaxProbeBuckets): DataFrame = {
    import graft.ann.FilteredSearch
    // dedup once: the count, the exact subset join, and the estimator
    // must all see each allowed id once (duplicate allow rows would
    // inflate selectivity, duplicate exact-route result rows, and
    // inflate the density median — the probe path's filterCandidates
    // dedups after its join and was the only dup-safe consumer); the
    // private call chain below runs under the pre-deduped contract
    val ids = allowed.select("vec_id").dropDuplicates("vec_id")
    // exact path: the corpus scan is pre-filtered to the allowed rows
    // (join on vec_id, no forced hint — AQE broadcasts the id list
    // when small), then ExactNN's broadcast-queries scan + bounded
    // top-k tail runs over just that subset
    def exactSubset: DataFrame =
      ExactNN.topK(queries, vectors.join(ids, "vec_id"), k, metric,
        threshold = Some(distanceThreshold), roundTo = roundTo)
    // one ladder (FilteredSearch.decide, via the pre-deduped twin):
    // the selectivity short-circuit and the dispatch-off default both
    // live THERE — re-implementing them inline here is how a cutoff
    // fix gets applied twice and forgotten once (round-17 self-review)
    val d = decision.getOrElse(
      filteredDecisionDeduped(queries, ids, k, localBeamWidth, metric,
        roundTo, maxExactFraction, maxAutoExactFraction,
        allowedCount, corpusCount, densityDispatch))
    val upgraded = scopedFallback &&
      (d.route == FilteredSearch.ProbeStarved || d.bimodalStarved(k))
    if (upgraded)
      // the regime the warnings name is being remediated in this very
      // call — warning would tell the caller to do what is being done
      log.info("filtered LSH serve upgraded to allow-scoped centroid " +
        s"probing (searchAllScoped) on route ${d.route.name}" +
        (if (d.bimodalStarved(k)) " with bimodal starvation" else ""))
    else
      FilteredSearch.warnings(d, k, localBeamWidth, "LSH",
        "nearest own-leaf candidates",
        "Serve with scopedFallback = true / LshIndex.searchAllScoped " +
          "(allow-scoped centroid probing — serve-time, any predicate, " +
          "no rebuild; the correlated arms recover at 1M, SCALE.md " +
          "§filtered ANN), from the label-partitioned store for stored " +
          "label-equality predicates (LshIndex.withLabels -> " +
          "searchAllLabeled), or raise maxAutoExactFraction when the " +
          "subset is scannable.",
        maxAutoExactFraction,
        bimodalRemediation = "Remediation: scopedFallback = true / " +
          "LshIndex.searchAllScoped (serve-time, any predicate), or " +
          "the label-partitioned store keyed on the filter column " +
          "(LshIndex.withLabels -> searchAllLabeled).")
        .foreach(log.warn)
    if (d.route.exact) exactSubset
    else if (upgraded)
      // ids are already deduped above — the pre-deduped twin skips
      // withLabels' repeat dedup (the round-16 allow-dedup rule);
      // scopedMaxProbeBuckets carries the q_autotune_scoped_m-tuned
      // operating point onto the dispatch path
      scopedToPreDeduped(ids).searchAllLabeled(
        queries.withColumn("label",
          lit(graft.ann.FilteredSearch.ScopedLabel)),
        k, distanceThreshold, metric, roundTo,
        maxProbeBuckets = scopedMaxProbeBuckets)
    else searchAll(queries, k, distanceThreshold, metric, roundTo,
      allowed = Some(ids))
  }

  /** The buckets table with a deterministic per-bucket occupancy cap:
    * at most `maxOccupancy` entries per (tree_id, hash), kept in vec_id
    * order. This is the guard for the corpus >> fit-sample regime:
    * `kMinVecs` bounds leaf size only over the SAMPLE the forest was
    * fitted on, so when the corpus is c× the sample, bucket occupancy
    * grows ~c×kMinVecs and any bucket self-join fans out quadratically
    * in c. One shuffle keyed by (tree_id, hash); the cap is the
    * guarantee that downstream join fan-out is <= maxOccupancy² per
    * bucket regardless of corpus/sample ratio. */
  def cappedBuckets(maxOccupancy: Int): DataFrame = {
    val w = Window.partitionBy("tree_id", "hash").orderBy("vec_id")
    buckets.withColumn("brn", row_number().over(w))
      .where(col("brn") <= maxOccupancy).drop("brn")
  }

  /** Same-bucket candidate pairs (vec_a < vec_b) for near-duplicate
    * detection — the scale path behind `q_lsh_near_dup_pairs`. The join
    * shuffles on (tree_id, hash), never all-pairs, and the occupancy cap
    * bounds its per-bucket fan-out (see [[cappedBuckets]]). Results are
    * always a subset of the uncapped candidate set, so downstream
    * verification keeps its pred ⊆ exact property. */
  def candidatePairs(maxBucketOccupancy: Int = Int.MaxValue): DataFrame = {
    val bk =
      if (maxBucketOccupancy == Int.MaxValue) buckets
      else cappedBuckets(maxBucketOccupancy)
    bk.as("a")
      .join(bk.as("b"),
        col("a.tree_id") === col("b.tree_id") && col("a.hash") === col("b.hash") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Cross-set LSH similarity join (SURVEY §7.5's "LSH join of two
    * embedding sets" — the record-linkage / cross-corpus shape):
    * pair the INDEXED set A with a second embedding set B on
    * same-bucket collision in any tree, exact-verify every candidate,
    * keep pairs with dist ≤ `threshold`. B hashes map-side through the
    * FITTED forest (no refit — [[append]]'s frozen-model contract);
    * the candidate join shuffles on (tree_id, hash), never A×B;
    * `maxBucketOccupancy` bounds A-side fan-out per bucket (the
    * [[cappedBuckets]] guarantee — per-bucket work ≤ cap × |B-bucket|
    * instead of occupancy²). Output rows carry the exact rounded
    * distance, so every returned pair re-verifies cross-engine
    * (pred ⊆ exact, the `q_lsh_near_dup_pairs` gate); misses are
    * bounded by the forest's collision probability at `threshold`,
    * graded by `q_lsh_sim_join_recall`. */
  def similarityJoin(other: DataFrame, idCol: String, vecCol: String,
                     threshold: Double,
                     metric: ExactNN.Metric = ExactNN.L2,
                     roundTo: Int = 6,
                     maxBucketOccupancy: Int = Int.MaxValue): DataFrame = {
    val bk =
      if (maxBucketOccupancy == Int.MaxValue) buckets
      else cappedBuckets(maxBucketOccupancy)
    // B hashes to its own bucket per tree (transform), NOT searchAll's
    // flip-probe fan-out: measured at 1M × 10-pt clusters, multi-probe
    // bought +0.004 sampled pair recall for 3× the join wall time —
    // threshold-join misses come from planes cutting clusters at HIGHER
    // tree levels, which the last-plane flip cannot recover. A join's
    // completeness knob is the TREE COUNT (each tree is an independent
    // chance to keep a pair co-bucketed; measured sweep in SCALE.md's
    // cross-set block), priced linearly in candidate volume.
    //
    // Fit the forest on the FULL indexed set (or near it) for joins:
    // candidate volume per bucket is |A_b| x |B_b| — occupancy SQUARED,
    // unlike search's occupancy x probes — so the Lsh.fit sample-cap
    // occupancy inflation (total/sampleCap) that costs a search a
    // linear factor costs the join that factor squared, concentrated
    // in the skewed tail. Measured at 1M: a 5x-capped fit spilled
    // >79 GB on the pair-dedup shuffle and died; the full-set fit ran
    // the same join in 149 s at sampled recall 1.000 (SCALE.md). The
    // occupancy cap here is tail insurance ABOVE typical occupancy,
    // not a volume knob — capping below true occupancy discards
    // co-bucketed pairs and recall falls with it (measured 0.72 at
    // cap = occupancy/4).
    val bBuckets = model.transform(
      other.select(col(idCol).as("b_id"), col(vecCol).as("b_emb")),
      "b_id", "b_emb")
    val cands = bk.join(bBuckets, Seq("tree_id", "hash"))
      .select(col("vec_id").as("vec_a"), col("b_id").as("vec_b"))
      .distinct()
    val va = vectors.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val vb = other.select(col(idCol).as("vec_b"), col(vecCol).as("eb"))
    cands.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(metric.dist(col("ea"), col("eb")), roundTo).as("dist"))
      .where(col("dist") <= threshold)
  }

  /** Serve-time delete view — the tombstone pattern for index
    * mutability at scale: both tables anti-join the (small, broadcast)
    * tombstone id set, so deleted vectors vanish from candidate
    * retrieval, scoring, and `candidatePairs` without touching the
    * stored corpus. The anti-join is map-side (broadcast hash join
    * build = tombstones), so serving cost is unchanged until the
    * tombstone set itself grows large — at which point compaction is
    * one rewrite: `withDeletes(t).save(path)` / `.saveBucketed(...)`
    * materializes the same view with zero tombstone residue
    * (LshLifecycleSpec pins compacted == tombstoned-view results).
    * The reference has no delete at all (store/store.go grows
    * append-only); this is the production gap a long-lived 100 TB
    * index cannot live without. */
  /** The forest thinned to its first `t` trees — the search-time half
    * of SCALE.md's round-8 density law (once occupancy is sized, tree
    * count prices recall linearly in candidate volume). Buckets of
    * dropped trees are filtered out (partition-pruned when the store is
    * tree-partitioned); the probe side still hashes all fitted trees
    * per query — a per-query CPU constant, not a data-volume term —
    * and its dropped-tree probes simply find no bucket to join.
    * Serving lever of [[graft.ann.AutoTune.sweepLshTrees]]. */
  def withTrees(t: Int): LshIndex = {
    require(t >= 1 && t <= model.config.nTrees,
      s"withTrees: $t outside [1, ${model.config.nTrees}]")
    new LshIndex(model, vectors, buckets.where(col("tree_id") < t))
  }

  def withDeletes(tombstones: DataFrame): LshIndex = {
    val t = broadcast(tombstones.select("vec_id"))
    new LshIndex(model,
      vectors.join(t, Seq("vec_id"), "left_anti"),
      buckets.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Incremental append: hash arrivals (vec_id, embedding) through the
    * FITTED forest — map-side only, no refit, no shuffle (the same
    * frozen-model contract as [[GraphSearch.insert]]'s walk and the
    * reference's own SetHash write path, lsh.go:123-128). Union-only,
    * so existing bucket files are never rewritten. Freshness caveat
    * (the [[Lsh.fit]] occupancy rule, applied over time instead of
    * corpus size): planes fitted on the original sample still split
    * arrivals fine while the data distribution holds, but occupancy
    * grows linearly with appended volume — when the index has grown ~3×
    * past its fit sample, refit or cap ([[cappedBuckets]] /
    * `maxCandidates`). Callers tracking batches should apply the
    * [[graft.ann.GraphMaintainer]] cadence pattern. */
  def append(arrivals: DataFrame): LshIndex = {
    val a = arrivals.select("vec_id", "embedding")
    new LshIndex(model,
      vectors.unionByName(a),
      buckets.unionByName(
        model.transform(a, "vec_id", "embedding")
          .select(col("tree_id"), col("hash"), col("vec_id"))))
  }

  /** Upsert = tombstone-then-append: updated ids are removed from both
    * tables first, so a re-inserted vector appears exactly once even
    * when its new embedding hashes to different buckets. */
  def upsert(updates: DataFrame): LshIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist the full index: model (nodes+meta), vectors, and the
    * buckets table written `partitionBy(tree_id)` and sorted by hash
    * within files — so a probe `WHERE tree_id = t AND hash = h` prunes to
    * one partition directory and min/max row-group stats skip within it.
    * This is the at-rest layout that makes bucket pruning (the
    * reference's whole point, SURVEY.md §4) a storage property. */
  def save(spark: SparkSession, path: String): Unit = {
    model.save(spark, s"$path/model")
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    buckets
      .repartition(col("tree_id"))
      .sortWithinPartitions("hash")
      .write.mode("overwrite")
      .partitionBy("tree_id")
      .parquet(s"$path/buckets")
  }

  /** Bucketed-table persistence — the at-scale layout: `buckets` is
    * written `bucketBy(nBuckets, tree_id, hash)` so any equi-join or
    * self-join on the bucket key reads pre-clustered files and needs NO
    * Exchange on the corpus side; `vectors` is `bucketBy(vec_id)` so the
    * candidates→vectors lookup join shuffles only the (small) candidate
    * side. At 100 TB these two joins are the ones whose corpus-side
    * shuffle would dominate the job; bucketed tables delete it. The
    * model still saves to `modelPath` as plain parquet (it is a few KB).
    * Requires a session catalog (tables land in the warehouse dir). */
  def saveBucketed(spark: SparkSession, name: String, modelPath: String,
                   nBuckets: Int = 64): Unit = {
    model.save(spark, modelPath)
    vectors.write.mode("overwrite")
      .bucketBy(nBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(s"${name}_vectors")
    buckets.write.mode("overwrite")
      .bucketBy(nBuckets, "tree_id", "hash").sortBy("tree_id", "hash")
      .saveAsTable(s"${name}_buckets")
  }

  /** Bucket occupancy summary — used for diagnostics and the
    * `q_lsh_bucket_stats` driver query. */
  def bucketStats: DataFrame =
    buckets.groupBy("tree_id")
      .agg(
        countDistinct("hash").as("n_buckets"),
        count(lit(1)).as("n_entries"),
        max("hash").as("max_hash"))
      .orderBy("tree_id")
}

/** Entry points (reference NewLsh + Train, lsh.go:93-134). */
object Lsh {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Reopen a bucketed-table index saved by [[LshIndex.saveBucketed]]:
    * the returned index's `buckets`/`vectors` scans carry the bucketed
    * HashPartitioning, so bucket-key joins plan without a corpus-side
    * Exchange (asserted in LshIndexSpec). */
  def loadBucketed(spark: SparkSession, name: String, modelPath: String): LshIndex =
    new LshIndex(
      LshModel.load(spark, modelPath),
      spark.table(s"${name}_vectors"),
      spark.table(s"${name}_buckets"))

  /** Reopen a saved index (reference LoadHasher + a Store pointing at the
    * persisted namespaces, lsh.go:200-207). */
  def load(spark: SparkSession, path: String): LshIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    val model = LshModel.load(spark, at("model"))
    val vectors = spark.read.parquet(at("vectors"))
    val buckets = spark.read.parquet(at("buckets"))
      .select(col("tree_id").cast("int").as("tree_id"), col("hash"), col("vec_id"))
    new LshIndex(model, vectors, buckets)
  }

  /** Fit the forest over a (capped) sample of the vector column. The
    * sample is collected to the driver — trees are fitted over at most
    * `config.sampleCap` rows; the reference fits over everything
    * (hasher.go:172-188), which our cap degrades to whenever the data
    * fits (sample(fraction=1) short-circuits to the full set). */
  def fit(df: DataFrame, vecCol: String, config: LshConfig): LshModel = {
    val total = df.count()
    // Corpus ≫ fit-sample guard (the measured GloVe-scale weakness,
    // SCALE.md): warn when bucket occupancy will inflate ~3x or more, so
    // an undersized sampleCap is an explicit operator decision instead
    // of a silent 3x-over-exact search. Auto-scaling the cap here would
    // silently change the fitted forest (and driver memory use) between
    // runs of the same config — the rule stays advisory.
    if (total > 3L * config.sampleCap) {
      log.warn(
        s"LSH fit sample is capped at ${config.sampleCap} of $total vectors " +
          f"(${total.toDouble / config.sampleCap}%.1fx): expected bucket " +
          f"occupancy ~${config.expectedOccupancy(total)}%.0f vs kMinVecs=" +
          s"${config.kMinVecs}. Search cost grows by the same factor — " +
          s"raise sampleCap toward total/3 (driver-memory permitting) or " +
          s"bound work with cappedBuckets/maxCandidates.")
    }
    val sampled =
      if (total <= config.sampleCap) df
      else df.sample(withReplacement = false,
        fraction = config.sampleCap.toDouble / total, seed = config.seed)
    val vecs = graft.ann.FitSample.collectVectors(sampled, vecCol)
    // every plane must span every dimension — a ragged sample would
    // split on a prefix and hash later rows from reads past their end
    require(vecs.forall(_ != null) && vecs.map(_.length).distinct.length <= 1,
      "embedding dimensions are ragged or contain nulls")
    // a NaN or infinite row can become a split point, and its plane
    // sends every vector to one side
    require(vecs.forall(_.forall(x => !x.isNaN && !x.isInfinite)),
      "embedding values are not finite (NaN or infinite)")
    // trees are independent: build them concurrently (the reference's
    // goroutine-per-tree, hasher.go:179-186) — each still seeded
    // deterministically, so the forest is identical to a serial build;
    // ParallelFit rethrows a failed tree instead of leaving a null slot
    val trees = new Array[Forest.TreeNode](config.nTrees)
    graft.ann.ParallelFit.run(config.nTrees) { ti =>
      trees(ti) = Forest.buildTree(vecs.toSeq, config.kMinVecs,
        config.angular, config.seed + ti)
    }
    new LshModel(config, trees)
  }

  /** Train = fit + index both storage namespaces (reference Train,
    * lsh.go:106-134; Clear() ≡ these DataFrames replacing any previous
    * ones). `vectors` keeps original ids/embeddings untouched (angular
    * normalization happens only inside hashing, never on stored data —
    * hasher.go:198-205 vs helpers.go:219-234). */
  def train(df: DataFrame, idCol: String, vecCol: String,
            config: LshConfig): LshIndex = {
    val model = fit(df, vecCol, config)
    val vectors = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val buckets = model.transform(df, idCol, vecCol)
      .select(col("tree_id"), col("hash"), col(idCol).as("vec_id"))
    new LshIndex(model, vectors, buckets)
  }
}
