package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.ExactNN

/** Labeled LSH store — the IN-FAMILY remediation behind the
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
  * store keeps, per (label, tree, bucket), the MEAN of the label's own
  * rows in it
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
  * The layout is the one LSH table: an [[LshIndex]] whose `hashed`
  * rows also carry `labels ARRAY<STRING>`, the vector's label set
  * (a bucket does not depend on the label, so a per-label bucket
  * table would only repeat it per label). Built from the SAME fitted
  * model — `withLabels` is one join plus the centroid aggregate.
  *
  * Scale shape: the centroid sidecar is bounded by the FITTED forest's
  * leaf count (≤ centroidTrees × sampleCap/kMinVecs buckets per label
  * — corpus-INDEPENDENT), so probe selection joins a tiny broadcast
  * query set against a bounded table. The probe rows (≤ queries ×
  * `maxProbeBuckets`) are collected into an [[LshProbeMap]] and
  * [[LshIndex.searchAll]]'s one scan of the whole table serves them. */
final class LabeledLshIndex(
    val index: LshIndex, // hashed: (vec_id, embedding, hashes, labels)
    val centroidTrees: Int = LabeledLshIndex.DefaultCentroidTrees,
    precomputedCentroids: Option[DataFrame] = None) {

  def model: LshModel = index.model
  def vectors: DataFrame = index.vectors

  /** `(label, tree_id, hash, vec_id, embedding)`: each row once per
    * label × tree it is bucketed in (NULL hashes skipped). */
  private def labeledRows: DataFrame =
    index.hashed.select(col("*"), explode(col("labels")).as("label"))
      .select(col("label"), col("vec_id"), col("embedding"), posexplode(col("hashes")))
      .where(col("col").isNotNull)
      .select(col("label"), col("pos").as("tree_id"), col("col").as("hash"),
        col("vec_id"), col("embedding"))

  /** `(label, tree_id, hash, vec_id)`: a view of the table, the shape
    * the oracle dumps, AutoTune's shared sweep and the pipeline's
    * label check read. */
  lazy val labeledBuckets: DataFrame = labeledRows.drop("embedding")

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
    labeledRows
      .where(col("tree_id") < centroidTrees)
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
    * label)`; a label absent from the store, or NULL, has no centroid
    * rows and so yields no probes (an empty result), never an error. */
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

  /** Label-constrained ANN search: a query's candidates are rows
    * carrying ITS label in the label's `maxProbeBuckets` nearest
    * buckets by the label's own within-bucket mass ([[bucketCentroids]];
    * SCALE.md §filtered ANN, round 17). The batch `(query_id, qv,
    * label)` is collected once, its probe rows ([[scopedProbeRows]], or
    * `probes`, a dumped frame of them) into an [[LshProbeMap]]; then
    * [[LshIndex.searchAll]]'s scan and scoring tail run, keeping a match
    * when the row's `labels` contain the query's `label`. */
  def searchAllLabeled(queries: DataFrame, k: Int, distanceThreshold: Double,
                       metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                       probes: Option[DataFrame] = None,
                       maxProbeBuckets: Int =
                         LabeledLshIndex.DefaultMaxProbeBuckets): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"),
      col("label").cast("string").as("label"))
    val batch = q.collect().toSeq
    val pr = probes.getOrElse(scopedProbeRows(q.sparkSession.createDataFrame(
      java.util.Arrays.asList(batch: _*), q.schema), maxProbeBuckets, metric))
    val byQuery = pr.select(col("query_id").cast(q.schema("query_id").dataType),
        col("tree_id").cast("int"), col("hash").cast("long"))
      .collect().groupBy(_.get(0))
      .map { case (id, rs) => id -> rs.toSeq.map(r => (r.getInt(1), r.getLong(2))) }
    index.searchProbes(
      LshProbeMap(model.trees.length, q.schema,
        batch.map(r => r -> byQuery.getOrElse(r.get(0), Nil))),
      k, distanceThreshold, metric, roundTo,
      keep = Some(array_contains(col("labels"), col("q.label"))))
  }

  /** Serve-time delete view (the [[LshIndex.withDeletes]] tombstone
    * pattern): the table anti-joins the broadcast tombstone set
    * map-side. The centroid SIDECAR is kept as-is by design: it is a
    * probe-selection summary, so a deleted row's mass lingering in a
    * bucket mean degrades ranking quality gracefully but can never
    * serve a deleted row (candidates come from the anti-joined table)
    * — recompute via [[refreshCentroids]] when the tombstone set has
    * grown past batch scale, exactly when the base index would compact. */
  def withDeletes(tombstones: DataFrame): LabeledLshIndex =
    new LabeledLshIndex(index.withDeletes(tombstones), centroidTrees,
      Some(bucketCentroids))

  /** Incremental append of labeled arrivals through the FROZEN forest
    * ([[LabeledLshIndex.arrivalRows]]). Sidecar staleness contract,
    * sharper than [[withDeletes]]'s: an arrival landing in a bucket its
    * label ALREADY probes serves immediately, but one that OPENS a new
    * bucket for its label has no sidecar entry yet and is unreachable
    * until [[refreshCentroids]] (the classic IVF new-cell directory
    * rule; spec-pinned) — so fold the refresh into the same cadence as
    * the base index's maintenance, not "eventually". */
  def append(arrivals: DataFrame): LabeledLshIndex =
    new LabeledLshIndex(
      new LshIndex(model,
        index.hashed.unionByName(LabeledLshIndex.arrivalRows(model, arrivals))),
      centroidTrees, Some(bucketCentroids))

  /** Recompute the centroid sidecar against the CURRENT table — the
    * maintenance step that flushes [[withDeletes]]/[[append]]
    * staleness (one [[bucketCentroids]] aggregate; fold it into the
    * base index's compaction cadence). */
  def refreshCentroids(): LabeledLshIndex =
    new LabeledLshIndex(index, centroidTrees)

  /** Persist [[LshIndex.save]]'s `model/` + `hashed/`, the sidecar
    * (`centroids/`) and `labeled_meta/`; [[LabeledLshIndex.load]] reopens it. */
  def save(spark: SparkSession, path: String): Unit = {
    index.save(spark, path)
    bucketCentroids.write.mode("overwrite").parquet(s"$path/centroids")
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

  /** `index` with each row's `labels` from `labels` — `(vec_id, labels)`,
    * one row per vec_id; a row with none gets an empty set. The one
    * join behind [[LshIndex.withLabels]] and the scoped views. */
  private[lsh] def of(index: LshIndex, labels: DataFrame,
                      centroidTrees: Int): LabeledLshIndex =
    new LabeledLshIndex(
      new LshIndex(index.model,
        index.hashed.drop("labels").join(labels, Seq("vec_id"), "left")
          .withColumn("labels",
            coalesce(col("labels"), typedLit(Seq.empty[String])))),
      centroidTrees)

  /** Labeled arrivals `(vec_id, embedding, label)` as table rows: one
    * per vec_id (its first embedding), `labels` the set of its non-NULL
    * labels, hashed through `model` ([[LshModel.hashedRows]]). A
    * multi-label arrival may come as one row per label. */
  private[lsh] def arrivalRows(model: LshModel, arrivals: DataFrame): DataFrame =
    model.hashedRows(
      arrivals.groupBy("vec_id").agg(first("embedding").as("embedding"),
        collect_set(col("label").cast("string")).as("labels")),
      "vec_id", "embedding", "labels")

  /** Reopen a saved store; a store in the two-table layout gets
    * [[Lsh.load]]'s named error. */
  def load(spark: SparkSession, path: String): LabeledLshIndex = {
    val index = Lsh.load(spark, path)
    val at = graft.ann.LsmStore.baseDir(spark, path)
    new LabeledLshIndex(index,
      spark.read.parquet(at("labeled_meta")).head().getAs[Int]("centroid_trees"),
      Some(spark.read.parquet(at("centroids"))))
  }
}
