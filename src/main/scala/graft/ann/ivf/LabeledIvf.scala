package graft.ann.ivf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.{CandidateScoring, ExactNN}

/** Label-partitioned IVF store — the IVF half of the in-family
  * remediation behind the bucket dispatch's `probe_starved` / bimodal
  * warnings (see [[graft.ann.lsh.LabeledLshIndex]] for the shared
  * rationale; this is the same store rule on k-means cells instead of
  * forest leaves).
  *
  * The serving rule — label-CONDITIONAL centroid ranking: per
  * `(label, cell)` the store keeps the mean of the label's own rows in
  * the cell ([[cellCentroids]]); a `label = v` query ranks v's cells by
  * that mean and probes the nearest nProbe. Why not the global cell
  * centroids with an occupancy filter: under a correlated EVEN-SPLIT
  * filter the label occupies every cell, so occupancy-scoping is
  * vacuous and the global ranking keeps serving the starved half its
  * collapsed recall — measured at 1M (SCALE.md §filtered ANN, round
  * 17): global nProbe=32 serves 0.941 average hiding a 0.883 starved
  * half, while the label-conditional ranking at the SAME budget serves
  * 0.995 (starved 0.99) and 1.000 at nProbe=64. The label's own mass
  * is the summary that ranks where its rows actually are.
  *
  * Built from the SAME fitted centroids (`withLabels` is one join plus
  * the per-label mean aggregate; no refit). The sidecar is ≤ |labels| ×
  * nCells rows — corpus-independent. Multi-label rows land in every
  * partition their labels name. Probe selection, candidates, and the
  * serve are all declarative DataFrame work (no driver collect), and
  * `q_ivf_filtered_labeled` re-derives the WHOLE chain — centroids,
  * ranking, candidates, top-k — in DuckDB. */
final class LabeledIvfIndex(
    val model: IvfModel,
    val vectors: DataFrame,       // (vec_id, embedding)
    val labeledCells: DataFrame,  // (label, cell, vec_id)
    precomputedCentroids: Option[DataFrame] = None) {

  /** Per-(label, cell) mean of the label's own rows — `(label, cell,
    * centroid)`, components rounded to 4 decimals (the
    * summation-order-noise rule of
    * [[graft.ann.lsh.LabeledLshIndex.bucketCentroids]]). */
  lazy val cellCentroids: DataFrame = precomputedCentroids.getOrElse {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    labeledCells
      .join(vectors, "vec_id")
      .groupBy("label", "cell")
      .agg(Summarizer.mean(
        array_to_vector(col("embedding").cast("array<double>")))
        .as("mv"))
      .select(col("label"), col("cell"),
        transform(vector_to_array(col("mv"), "float64"),
          x => round(x, 4)).as("centroid"))
      // lazily checkpointed — bounded sidecar, re-read per action
      // otherwise (see LabeledLshIndex.bucketCentroids)
      .localCheckpoint(eager = false)
  }

  /** The label-scoped probe rows, as data — `(query_id, label, cell,
    * probe_rank)`, rank = position in the label-conditional centroid
    * ranking ((dist, cell) ties). Queries: `(query_id, qv, label)`;
    * unknown labels have no centroid rows and yield no probes. */
  def scopedProbeRows(queries: DataFrame,
                      nProbe: Int = 0,
                      metric: ExactNN.Metric = ExactNN.L2): DataFrame = {
    val p = if (nProbe > 0) nProbe else model.config.nProbe
    val q = queries.select(col("query_id"), col("qv"),
      col("label").cast("string").as("label"))
    val ranked = cellCentroids
      .join(broadcast(q), "label")
      .select(col("query_id"), col("label"), col("cell"),
        round(metric.dist(col("qv"), col("centroid")), 6).as("cd"))
    val w = Window.partitionBy("query_id").orderBy(col("cd"), col("cell"))
    ranked.withColumn("probe_rank", row_number().over(w) - 1)
      .where(col("probe_rank") < p)
      .select("query_id", "label", "cell", "probe_rank")
  }

  /** Label-constrained ANN search over the label-partitioned cell
    * store (the [[graft.ann.lsh.LabeledLshIndex.searchAllLabeled]]
    * twin): candidates come only from the query's label partition, in
    * the label's nProbe nearest cells by the label's OWN within-cell
    * mass. Same scoring tail as [[IvfIndex.searchAll]]. */
  def searchAllLabeled(queries: DataFrame, k: Int,
                       metric: ExactNN.Metric = ExactNN.L2, roundTo: Int = 6,
                       probes: Option[DataFrame] = None,
                       nProbe: Int = 0): DataFrame = {
    val pr = probes.getOrElse(scopedProbeRows(queries, nProbe, metric))
    val cands = labeledCells
      .join(broadcast(pr.select("label", "cell", "query_id")),
        Seq("label", "cell"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    CandidateScoring.scoreTopK(CandidateScoring.pairs(cands, vectors, queries),
      k, None, metric, roundTo)
  }

  /** Serve-time delete view (the tombstone pattern; sidecar-staleness
    * contract as in [[graft.ann.lsh.LabeledLshIndex.withDeletes]]:
    * the label-centroid summary lingers until [[refreshCentroids]],
    * degrading probe ranking gracefully — it can never serve a
    * deleted row). */
  def withDeletes(tombstones: DataFrame): LabeledIvfIndex = {
    val t = broadcast(tombstones.select("vec_id"))
    new LabeledIvfIndex(model,
      vectors.join(t, Seq("vec_id"), "left_anti"),
      labeledCells.join(t, Seq("vec_id"), "left_anti"),
      Some(cellCentroids))
  }

  /** Incremental append of labeled arrivals `(vec_id, embedding,
    * label)` under the FROZEN centroids (map-side argmin — the
    * [[IvfIndex.append]] contract); sidecar staleness as in the LSH
    * twin's append: arrivals into already-probed (label, cell) pairs
    * serve immediately, arrivals OPENING a (label, cell) pair are
    * unreachable until [[refreshCentroids]]. */
  def append(arrivals: DataFrame): LabeledIvfIndex = {
    // dedup rules mirror withLabels (see the LSH twin's append note:
    // an undeduped multi-label arrival would double its vector row
    // and every subsequent top-k would return it twice)
    val a = arrivals.select(col("vec_id"), col("embedding"),
      col("label").cast("string").as("label"))
    val vecs = a.select("vec_id", "embedding").dropDuplicates("vec_id")
    val lbls = a.select("vec_id", "label").dropDuplicates("vec_id", "label")
    new LabeledIvfIndex(model,
      vectors.unionByName(vecs),
      labeledCells.unionByName(
        model.transform(vecs, "vec_id", "embedding")
          .join(lbls, "vec_id")
          .select("label", "cell", "vec_id")),
      Some(cellCentroids))
  }

  /** Recompute the label-centroid sidecar against the current tables
    * (see [[graft.ann.lsh.LabeledLshIndex.refreshCentroids]]). */
  def refreshCentroids(): LabeledIvfIndex =
    new LabeledIvfIndex(model, vectors, labeledCells)

  /** Persist centroids + vectors + the composite-keyed cell table and
    * the label-centroid sidecar, both `partitionBy(label)` — a
    * `label = v` serve prunes to one label directory. */
  def save(spark: SparkSession, path: String): Unit = {
    model.save(spark, path)
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    labeledCells
      .repartition(col("label"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite")
      .partitionBy("label")
      .parquet(s"$path/cells")
    cellCentroids
      .repartition(col("label"))
      .write.mode("overwrite")
      .partitionBy("label")
      .parquet(s"$path/label_centroids")
  }
}

object LabeledIvfIndex {
  def load(spark: SparkSession, path: String): LabeledIvfIndex = {
    new LabeledIvfIndex(Ivf.loadModel(spark, path),
      spark.read.parquet(s"$path/vectors"),
      spark.read.parquet(s"$path/cells")
        .select(col("label").cast("string").as("label"),
          col("cell").cast("int").as("cell"), col("vec_id")),
      Some(spark.read.parquet(s"$path/label_centroids")
        .select(col("label").cast("string").as("label"),
          col("cell").cast("int").as("cell"), col("centroid"))))
  }
}
