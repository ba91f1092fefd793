package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.lsh.LshIndex

/** k-NN graph construction — every node's k nearest neighbors as an edge
  * list `(src, dst, dist)`. The neighbor graph is the input shape for
  * graph-based dedup/clustering (connected components over near-dup
  * edges, text/Dedup.scala), diversity selection, SemDeDup-style
  * pruning, and kNN classification — the "batch ANN where the query set
  * IS the corpus" case, which inverts the usual broadcast contract:
  * queries are corpus-sized, so nothing here ever broadcasts them.
  *
  * Two paths, mirroring the near-dup pair design (SURVEY.md §2.3):
  *
  *  - [[exact]]: the quadratic baseline. A corpus×corpus join scored
  *    with the native distance kernels and reduced by the bounded
  *    [[TopK]] aggregation — per-node shuffle state is `partitions × k`
  *    rows no matter the corpus, so the aggregation tail scales; the
  *    O(n²) scoring does not, by design (it is the oracle the
  *    accelerated path is graded against, exactly like ExactNN vs LSH
  *    search).
  *  - [[fromLsh]]: the 100 TB path. Candidate edges come from the LSH
  *    same-bucket self-join (shuffles on (tree_id, hash), never
  *    all-pairs; per-bucket fan-out bounded by the occupancy cap —
  *    [[LshIndex.cappedBuckets]]), exact distances are computed on
  *    candidates only, and each node keeps its best k via the same
  *    bounded aggregation. Edges are a subset of the exact graph's
  *    candidate universe by construction, so graph recall against
  *    [[exact]] is the single quality number.
  *
  * Determinism: ties pinned by (dist, dst) everywhere (the TopK
  * contract), distances rounded before ranking so double noise cannot
  * flip an ordering between engines.
  */
object KnnGraph {

  /** Exact k-NN graph (self excluded): one row per (node, neighbor),
    * at most k neighbors per node, ascending (dist, dst). Quadratic —
    * the oracle baseline, not the deployment path. */
  def exact(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
            metric: ExactNN.Metric = ExactNN.Cosine,
            roundTo: Int = 6): DataFrame = {
    val src = vectors.select(col(idCol).as("query_id"), col(vecCol).as("sv"))
    val dst = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("dv"))
    val scored = src.crossJoin(dst)
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("sv"), col("dv")), roundTo).as("dist"))
    TopK.perQueryTopK(scored, k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("dist"))
  }

  /** LSH-accelerated k-NN graph: same-bucket candidate pairs →
    * symmetrize (an edge candidate serves both endpoints) → exact
    * distance on candidates only → per-node bounded top-k. `vectors`
    * supplies the raw embeddings for scoring (kept separate from
    * `idx.vectors` so callers can score against the exact table the
    * oracle reads). */
  def fromLsh(idx: LshIndex, vectors: DataFrame, idCol: String,
              vecCol: String, k: Int,
              metric: ExactNN.Metric = ExactNN.Cosine,
              maxBucketOccupancy: Int = Int.MaxValue,
              roundTo: Int = 6): DataFrame = {
    val pairs = idx.candidatePairs(maxBucketOccupancy)
    val va = vectors.select(col(idCol).as("vec_a"), col(vecCol).as("ea"))
    val vb = vectors.select(col(idCol).as("vec_b"), col(vecCol).as("eb"))
    val scoredPairs = pairs
      .join(va, "vec_a")
      .join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(metric.dist(col("ea"), col("eb")), roundTo).as("dist"))
    val sym = scoredPairs
      .select(col("vec_a").as("query_id"), col("vec_b").as("vec_id"), col("dist"))
      .unionByName(scoredPairs
        .select(col("vec_b").as("query_id"), col("vec_a").as("vec_id"), col("dist")))
    TopK.perQueryTopK(sym, k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("dist"))
  }

  /** SAME-LABEL k-NN edges from the same LSH bucket join — the
    * build-time half of filter-aware graph serving (the
    * FilteredDiskANN idea, arXiv:2211.12850, re-expressed on the
    * stored-bucket candidate structure): for every label value at
    * once, candidate pairs are the [[fromLsh]] bucket pairs RESTRICTED
    * to equal labels (the equality filter runs before any distance
    * math), then per-src top-k. Unioned into a serving graph, these
    * edges give a `label = v` constrained walk a navigable ALLOWED
    * subgraph instead of hoping the unfiltered descent passes through
    * allowed rows — the measured density collapse in SCALE.md
    * §filtered ANN (recall 0.22 at 10% selectivity with no walk
    * parameter able to move it). Cost: one more pass over the SAME
    * candidate-pair frame fromLsh scores — no second forest, no
    * second bucket join. Pair it with [[GraphSearch.labelRing]] for
    * intra-label connectivity insurance (same-label bucket pairs are
    * local by construction). */
  def fromLshSameLabel(idx: graft.ann.lsh.LshIndex, vectors: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int,
                       metric: ExactNN.Metric = ExactNN.Cosine,
                       maxBucketOccupancy: Int = Int.MaxValue,
                       roundTo: Int = 6): DataFrame = {
    val pairs = idx.candidatePairs(maxBucketOccupancy)
    val va = vectors.select(col(idCol).as("vec_a"), col(vecCol).as("ea"),
      col(labelCol).as("la"))
    val vb = vectors.select(col(idCol).as("vec_b"), col(vecCol).as("eb"),
      col(labelCol).as("lb"))
    val scoredPairs = pairs
      .join(va, "vec_a")
      .join(vb, "vec_b")
      .where(col("la") === col("lb"))
      .select(col("vec_a"), col("vec_b"),
        round(metric.dist(col("ea"), col("eb")), roundTo).as("dist"))
    val sym = scoredPairs
      .select(col("vec_a").as("query_id"), col("vec_b").as("vec_id"), col("dist"))
      .unionByName(scoredPairs
        .select(col("vec_b").as("query_id"), col("vec_a").as("vec_id"), col("dist")))
    TopK.perQueryTopK(sym, k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("dist"))
  }

  /** One-call label-AWARE graph construction — the packaged remediation
    * the `walk_starved` / `probe_starved` warnings name (round 16; the
    * FilteredDiskANN build-time idea, arXiv:2211.12850, as a single
    * builder instead of a three-call recipe): the serving edge set is
    *
    *   base ∪ same-label k-NN ([[fromLshSameLabel]] — the [[fromLsh]]
    *   bucket pairs restricted to equal labels, no second forest)
    *   ∪ per-label connectivity ring
    *   ([[graft.ann.GraphSearch.labelRing]] — every label value forms
    *   one cycle, so a constrained walk can always move WITHIN its
    *   allowed subgraph even where same-label k-NN edges are sparse),
    *
    * deduplicated. `base` defaults to the unfiltered [[fromLsh]] k-NN
    * edges plus [[graft.ann.GraphSearch.randomBackbone]] (the standard
    * serving-graph base); pass the existing store's edges to augment
    * in place. This is the STARVED-LARGE regime's answer: when the
    * allowed subset exceeds `maxAutoExactFraction` the dispatch can
    * only warn — label-aware construction makes the walk itself
    * navigate the allowed subgraph (certified >15%-selective by
    * `q_graph_filtered_labeled` vs DuckDB's own filtered GT).
    *
    * Scale shape: every ingredient is the bucket join (shuffles on
    * (tree_id, hash), occupancy-capped fan-out) or one window over the
    * corpus keyed by label — no all-pairs anywhere; cost ≈ one extra
    * [[fromLsh]] pass at build time, zero serve-time cost when the
    * filter column isn't constrained. */
  def labelAware(idx: graft.ann.lsh.LshIndex, vectors: DataFrame,
                 idCol: String, vecCol: String, labelCol: String, k: Int,
                 metric: ExactNN.Metric = ExactNN.Cosine,
                 maxBucketOccupancy: Int = Int.MaxValue,
                 base: Option[DataFrame] = None,
                 roundTo: Int = 6): DataFrame = {
    val b = base.getOrElse(
      fromLsh(idx, vectors, idCol, vecCol, k, metric, maxBucketOccupancy,
          roundTo)
        .select(col("src"), col("dst"))
        .unionByName(GraphSearch.randomBackbone(vectors, idCol)))
    b.select(col("src"), col("dst"))
      .unionByName(fromLshSameLabel(idx, vectors, idCol, vecCol, labelCol,
          k, metric, maxBucketOccupancy, roundTo)
        .select(col("src"), col("dst")))
      .unionByName(GraphSearch.labelRing(vectors, idCol, labelCol))
      .dropDuplicates("src", "dst")
  }

  /** Mark edges whose reverse edge is also in the graph — the
    * mutual-kNN subgraph is the standard robust-clustering reduction
    * (an edge both endpoints agree on). One self-join on the (already
    * bounded, n×k-row) edge list. */
  def withMutual(graph: DataFrame): DataFrame = {
    val rev = graph.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("mutual"))
    graph.join(rev, Seq("src", "dst"), "left")
      .na.fill(false, Seq("mutual"))
  }
}
