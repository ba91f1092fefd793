package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.{CandidateScoring, ExactNN}

/** Label-partitioned LSH store — the IN-FAMILY remediation behind the
  * `probe_starved` / bimodal warnings of
  * [[LshIndex.searchAllFiltered]]'s density dispatch (round 17; the
  * bucket twin of [[graft.ann.KnnGraph.labelAware]]'s build-time rule).
  *
  * Why probe-then-filter cannot be fixed at serve time: under a filter
  * correlated with query geometry, the query's NEAR allowed rows live
  * in buckets its probes never visit — measured at 1M (SCALE.md
  * §filtered ANN): recall 0.513 at correlated 10%, and the engine's own
  * tree-doubling measurement (nTrees 20→40: 0.513→0.531) shows no probe
  * budget reaches them. The fix must change WHICH buckets a constrained
  * query probes.
  *
  * The serving rule — label-conditional bucket-centroid ranking: the
  * store keys buckets by the composite `(label, tree_id, hash)` and
  * keeps, per labeled bucket, the MEAN of the label's own rows in it
  * (the [[bucketCentroids]] sidecar — one build-time aggregate). A
  * `label = v` query ranks v's buckets by centroid distance and probes
  * the nearest `maxProbeBuckets` — IVF's probe rule with the FITTED
  * forest's leaves as the cell structure and the label's own mass as
  * the summary. Measured at 1M (SCALE.md §filtered ANN, round 17): on
  * the correlated even-split arm the fixed probe path serves 0.551
  * (starved half 0.103) and tree-PATH probe selection saturates at
  * 0.915 even at 32 probes/tree × 20 trees, while centroid ranking
  * over ONE tree's buckets serves 0.963 at M=32, 0.978 at the default
  * M=64 (starved 0.966), and 0.984 at M=128 — the geometric summary
  * ranks what the path structure cannot (the label's nearest mass at
  * medium distance), which is why the descent selector was replaced
  * by this rule, not tuned.
  *
  * Built from the SAME fitted model — `withLabels` is one join plus the
  * centroid aggregate; no second fit, no new planes. Multi-label rows
  * land in every partition their labels name.
  *
  * Scale shape: the centroid sidecar is bounded by the FITTED forest's
  * leaf count (≤ centroidTrees × sampleCap/kMinVecs buckets per label
  * — corpus-INDEPENDENT), so probe selection joins a tiny broadcast
  * query set against a bounded table; the candidate join stays the
  * [[LshIndex.searchAll]] shape (broadcast probe rows against the
  * stored table, equi-joined on the composite key — partition-pruned
  * when saved `partitionBy(label)`). Everything is declarative
  * DataFrame work: no driver-side collect anywhere on the serve path. */
final class LabeledLshIndex(
    val model: LshModel,
    val vectors: DataFrame,         // (vec_id, embedding)
    val labeledBuckets: DataFrame,  // (label, tree_id, hash, vec_id)
    val centroidTrees: Int = LabeledLshIndex.DefaultCentroidTrees,
    precomputedCentroids: Option[DataFrame] = None) {

  /** Per-(label, tree, bucket) mean of the label's own rows —
    * `(label, tree_id, hash, centroid)`, trees < [[centroidTrees]]
    * only (the probe-selection cell structure; serving quality is
    * bucket-GRANULARITY-bound, not tree-count-bound — SCALE.md's
    * measured curve — so one tree is the default and the knob buys
    * disjoint re-cuts, not recall). Components are rounded to 4
    * decimals: a ~1k-row mean carries ~1e-12 summation-order noise
    * between engines (and between evaluations), so a 1e-6 rounding
    * boundary would flip a component — and the rank-for-rank
    * `probes_ok` gate — every few percent of runs; 1e-4 puts the
    * cross-engine agreement at the distance-rounding confidence while
    * costing the coarse geometric cut nothing. */
  lazy val bucketCentroids: DataFrame = precomputedCentroids.getOrElse {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    labeledBuckets
      .where(col("tree_id") < centroidTrees)
      .join(vectors, "vec_id")
      .groupBy("label", "tree_id", "hash")
      .agg(Summarizer.mean(
        array_to_vector(col("embedding").cast("array<double>")))
        .as("mv"))
      .select(col("label"), col("tree_id"), col("hash"),
        transform(vector_to_array(col("mv"), "float64"),
          x => round(x, 4)).as("centroid"))
      // lazily checkpointed: the sidecar is BOUNDED (≤ the fitted
      // forest's leaf count per label — class doc) and every probe
      // ranking, identity check, and guard count otherwise re-runs the
      // corpus-side aggregate per action; blocks materialize on first
      // use and are reused for the index instance's lifetime (the
      // GraphSearch hop-checkpoint rationale, applied to the sidecar)
      .localCheckpoint(eager = false)
  }

  /** The label-scoped probe rows a [[searchAllLabeled]] call serves
    * from, as data — `(query_id, label, tree_id, hash, probe_rank)`
    * with rank = position in the centroid-distance ranking
    * ((dist, tree_id, hash) ties), which `q_lsh_filtered_labeled`
    * re-derives end to end in DuckDB. Queries: `(query_id, qv,
    * label)`; a label absent from the store has no centroid rows and
    * so yields no probes (an empty result), never an error. */
  def scopedProbeRows(queries: DataFrame,
                      maxProbeBuckets: Int =
                        LabeledLshIndex.DefaultMaxProbeBuckets,
                      metric: ExactNN.Metric = ExactNN.L2): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"),
      col("label").cast("string").as("label"))
    val ranked = bucketCentroids
      .join(broadcast(q), "label")
      .select(col("query_id"), col("label"), col("tree_id"), col("hash"),
        round(metric.dist(col("qv"), col("centroid")), 6).as("cd"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cd"), col("tree_id"), col("hash"))
    ranked.withColumn("probe_rank", row_number().over(w) - 1)
      .where(col("probe_rank") < maxProbeBuckets)
      .select("query_id", "label", "tree_id", "hash", "probe_rank")
  }

  /** Label-constrained ANN search over the label-partitioned store:
    * every query's candidates come only from ITS label's partition, in
    * the label's `maxProbeBuckets` nearest buckets by the label's own
    * within-bucket mass ([[bucketCentroids]]) — the serving rule that
    * recovers the measured correlated-filter collapse (SCALE.md
    * §filtered ANN, round 17). Same scoring tail as
    * [[LshIndex.searchAll]] (same rounding, ties, bounded top-k). Pass
    * `probes` to serve from a precomputed/dumped [[scopedProbeRows]]
    * frame (the oracle-row pattern); otherwise they are derived here. */
  def searchAllLabeled(queries: DataFrame, k: Int, distanceThreshold: Double,
                       metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                       probes: Option[DataFrame] = None,
                       maxProbeBuckets: Int =
                         LabeledLshIndex.DefaultMaxProbeBuckets): DataFrame = {
    val pr = probes.getOrElse(
      scopedProbeRows(queries, maxProbeBuckets, metric))
    val cands = labeledBuckets
      .join(broadcast(pr.select("label", "tree_id", "hash", "query_id")),
        Seq("label", "tree_id", "hash"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    CandidateScoring.scoreTopK(CandidateScoring.pairs(cands, vectors, queries),
      k, Some(distanceThreshold), metric, roundTo)
  }

  /** Serve-time delete view (the [[LshIndex.withDeletes]] tombstone
    * pattern): both row tables anti-join the broadcast tombstone set
    * map-side. The centroid SIDECAR is kept as-is by design: it is a
    * probe-selection summary, so a deleted row's mass lingering in a
    * bucket mean degrades ranking quality gracefully but can never
    * serve a deleted row (candidates come from the anti-joined tables)
    * — recompute via [[refreshCentroids]] when the tombstone set has
    * grown past batch scale, exactly when the base index would compact. */
  def withDeletes(tombstones: DataFrame): LabeledLshIndex = {
    val t = broadcast(tombstones.select("vec_id"))
    new LabeledLshIndex(model,
      vectors.join(t, Seq("vec_id"), "left_anti"),
      labeledBuckets.join(t, Seq("vec_id"), "left_anti"),
      centroidTrees, Some(bucketCentroids))
  }

  /** Incremental append: hash labeled arrivals `(vec_id, embedding,
    * label)` through the FROZEN forest (map-side, no refit — the
    * [[LshIndex.append]] contract) into their label partitions.
    * Sidecar staleness contract, sharper than [[withDeletes]]'s: an
    * arrival landing in a bucket its label ALREADY probes serves
    * immediately, but one that OPENS a new bucket for its label has no
    * sidecar entry yet and is unreachable until [[refreshCentroids]]
    * (the classic IVF new-cell directory rule; spec-pinned) — so fold
    * the refresh into the same cadence as the base index's
    * maintenance, not "eventually". */
  def append(arrivals: DataFrame): LabeledLshIndex = {
    // dedup rules mirror withLabels: a multi-label arrival is one
    // vector row and one bucket row PER LABEL — without the dedups a
    // two-label arrival would double its vector row and every
    // subsequent top-k would score (and return) it twice; duplicate
    // (vec_id, label) rows (at-least-once replays) are collapsed
    val a = arrivals.select(col("vec_id"), col("embedding"),
      col("label").cast("string").as("label"))
    val vecs = a.select("vec_id", "embedding").dropDuplicates("vec_id")
    val lbls = a.select("vec_id", "label").dropDuplicates("vec_id", "label")
    new LabeledLshIndex(model,
      vectors.unionByName(vecs),
      labeledBuckets.unionByName(
        model.transform(vecs, "vec_id", "embedding")
          .join(lbls, "vec_id")
          .select("label", "tree_id", "hash", "vec_id")),
      centroidTrees, Some(bucketCentroids))
  }

  /** Recompute the centroid sidecar against the CURRENT tables — the
    * maintenance step that flushes [[withDeletes]]/[[append]]
    * staleness (one [[bucketCentroids]] aggregate; fold it into the
    * base index's compaction cadence). */
  def refreshCentroids(): LabeledLshIndex =
    new LabeledLshIndex(model, vectors, labeledBuckets, centroidTrees)

  /** Persist model + vectors + the composite-keyed buckets table
    * (`partitionBy(label, tree_id)`, hash-sorted files — a `label = v`
    * serve prunes to that label's directories at the storage layer)
    * + the centroid sidecar (`partitionBy(label)`). */
  def save(spark: SparkSession, path: String): Unit = {
    model.save(spark, s"$path/model")
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    labeledBuckets
      .repartition(col("label"), col("tree_id"))
      .sortWithinPartitions("hash")
      .write.mode("overwrite")
      .partitionBy("label", "tree_id")
      .parquet(s"$path/buckets")
    bucketCentroids
      .repartition(col("label"))
      .write.mode("overwrite")
      .partitionBy("label")
      .parquet(s"$path/centroids")
    import spark.implicits._
    Seq(centroidTrees).toDF("centroid_trees")
      .write.mode("overwrite").parquet(s"$path/labeled_meta")
  }
}

object LabeledLshIndex {
  /** Probe-selection cell structure: buckets of the FIRST fitted tree
    * only. Measured at 1M (SCALE.md §filtered ANN, round 17): centroid
    * ranking over one tree's buckets already dominates tree-path
    * selection over all 20 trees, and a SECOND tree's re-cut buys
    * +0.014 at M=64 for ~1.4× the sidecar build — the knob exists for
    * the last fraction, the default doesn't pay it. */
  val DefaultCentroidTrees = 1

  /** Buckets probed per query, read off the measured 1M curve
    * (SCALE.md §filtered ANN, round 17: M=32 → 0.963, M=64 → 0.978,
    * M=128 → 0.984 on the hardest arm — the knee; candidate volume is
    * M × occupancy, so 64 ≈ the unconstrained search's 40-probe
    * budget at default occupancy). */
  val DefaultMaxProbeBuckets = 64

  def load(spark: SparkSession, path: String): LabeledLshIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    val trees = spark.read.parquet(at("labeled_meta"))
      .head().getAs[Int]("centroid_trees")
    new LabeledLshIndex(
      LshModel.load(spark, at("model")),
      spark.read.parquet(at("vectors")),
      spark.read.parquet(at("buckets"))
        .select(col("label").cast("string").as("label"),
          col("tree_id").cast("int").as("tree_id"), col("hash"),
          col("vec_id")),
      trees,
      Some(spark.read.parquet(at("centroids"))
        .select(col("label").cast("string").as("label"),
          col("tree_id").cast("int").as("tree_id"), col("hash"),
          col("centroid"))))
  }
}
