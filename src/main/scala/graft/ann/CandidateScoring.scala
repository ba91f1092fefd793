package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared scoring tail of every bucket-index search — candidates
  * `(query_id, vec_id)` joined to stored vectors, distance against the
  * broadcast query set, optional radius filter, bounded per-query top-k
  * ([[TopK.perQueryTopK]]). One implementation for the LSH / IVF /
  * label-partitioned serve paths, so a rounding or tie-order fix cannot
  * be applied to one family and forgotten in another (the
  * [[FilteredSearch.decide]] single-ladder rule, applied to scoring). */
private[ann] object CandidateScoring {

  def scoreTopK(cands: DataFrame, vectors: DataFrame, queries: DataFrame,
                k: Int, threshold: Option[Double], metric: ExactNN.Metric,
                roundTo: Int): DataFrame = {
    val scored0 = cands
      .join(vectors, "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"))
    val scored = threshold.fold(scored0)(t => scored0.where(col("dist") <= t))
    // per-query shuffle capped at numPartitions * k instead of every
    // scored candidate — the form that survives a 100x candidate scale-up
    TopK.perQueryTopK(scored, k)
  }
}
