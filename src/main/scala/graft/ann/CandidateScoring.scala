package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared scoring tail of every bucket-index search — candidate
  * pairs `(query_id, qv, vec_id, embedding)`, distance, optional radius
  * filter, bounded per-query top-k ([[TopK.perQueryTopK]]). One
  * implementation for the LSH / IVF / label-partitioned serve paths, so
  * a rounding or tie-order fix cannot be applied to one family and
  * forgotten in another (the [[FilteredSearch.decide]] single-ladder
  * rule, applied to scoring). The LSH scan's candidates carry both
  * vectors already; the other families' `(query_id, vec_id)`
  * candidates get them from [[pairs]]. */
private[ann] object CandidateScoring {

  /** `(query_id, vec_id)` candidates with their stored vectors and the
    * broadcast queries' `qv`. */
  def pairs(cands: DataFrame, vectors: DataFrame, queries: DataFrame): DataFrame =
    cands
      .join(vectors, "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")

  def scoreTopK(pairs: DataFrame, k: Int, threshold: Option[Double],
                metric: ExactNN.Metric, roundTo: Int): DataFrame = {
    val scored0 = pairs
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"))
    val scored = threshold.fold(scored0)(t => scored0.where(col("dist") <= t))
    // per-query shuffle capped at numPartitions * k instead of every
    // scored candidate — the form that survives a 100x candidate scale-up
    TopK.perQueryTopK(scored, k)
  }
}
