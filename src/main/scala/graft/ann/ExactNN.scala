package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.exprs

/** Exact (brute-force) nearest-neighbor search — the reference's `NNMock`
  * baseline (reference: annbench/annbench.go:56-125): linear scan of the
  * corpus per query, distance threshold, top-k by ascending distance.
  *
  * Spark-first shape: the (small) query set is **broadcast**, the corpus
  * scan stays distributed, so the cross join is a
  * BroadcastNestedLoopJoin with no shuffle of the corpus; the only shuffle
  * is the bounded per-query top-k ([[TopK.perQueryTopK]]): each corpus
  * partition keeps at most k candidates per query map-side, so the
  * shuffle moves `numPartitions * k` rows per query, not the scored
  * corpus. At 100 TB this is the pattern that survives:
  * corpus-partition-parallel distance evaluation, tiny state per query.
  *
  * Determinism: ties broken by `vec_id` (the reference leaves ties
  * heap-order-arbitrary, lsh/lsh.go:192-195 — we pin them so results are
  * oracle-comparable; distances are rounded to `roundTo` decimals first so
  * double-precision noise cannot flip an ordering between engines).
  */
object ExactNN {

  /** Distance metric selector mirroring the reference's `Metric` typeclass
    * (lsh/lsh.go:48-51). */
  sealed trait Metric { def dist(a: Column, b: Column): Column }
  case object L2 extends Metric {
    def dist(a: Column, b: Column): Column = exprs.l2DistNative(a, b)
  }
  case object Cosine extends Metric {
    def dist(a: Column, b: Column): Column = exprs.cosineDistNative(a, b)
  }

  /** Top-k exact NN for every query vector.
    *
    * @param queries  (query_id, qv) — expected small enough to broadcast
    * @param corpus   (vec_id, embedding)
    * @param k        neighbors per query (reference `maxNN`)
    * @param threshold accept radius (reference `distanceThrsh`); None = no cap
    * @param roundTo  decimals to round the emitted distance to
    * @return (query_id, vec_id, dist) — k rows per query, ascending dist
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int, metric: Metric = L2,
           threshold: Option[Double] = None, roundTo: Int = 6): DataFrame =
    TopK.perQueryTopK(scored(queries, corpus, metric, threshold, roundTo), k)

  private def scored(queries: DataFrame, corpus: DataFrame, metric: Metric,
                     threshold: Option[Double], roundTo: Int): DataFrame = {
    val d = round(metric.dist(col("qv"), col("embedding")), roundTo)
    val s = corpus
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"), d.as("dist"))
    threshold.fold(s)(t => s.where(col("dist") <= t))
  }
}
