package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Matryoshka-style truncated-prefix ANN serving (Kusupati et al.,
  * "Matryoshka Representation Learning", arXiv:2205.13147): candidate
  * generation runs on only the FIRST `prefixDims` components of each
  * embedding, then the surviving `rerankDepth` candidates per query are
  * re-scored exactly at full dimensionality.
  *
  * MRL-trained embeddings pack coarse semantics into the prefix, so a
  * d/prefixDims-fold cut in scan bytes and distance FLOPs costs little
  * recall — and even for non-MRL embeddings the prefix scan is a valid
  * (if weaker) filter whose loss the rerank stage bounds. This is the
  * same filter-then-rerank contract as the PQ/SQ ADC paths
  * ([[graft.ann.pq.PqIndex]]), with truncation instead of quantization
  * as the compressor; the reference has no MRL analogue (its only
  * compressor is the LSH sketch itself, lsh/hasher.go).
  *
  * Scale shape: the truncated scan is a pure column-slice projection
  * inside the corpus scan (no shuffle; `slice` is codegen'd), candidate
  * selection is the bounded [[TopK]] aggregator (map-side k per
  * partition), and the rerank joins the bounded candidate set
  * (nQueries x rerankDepth rows, broadcast) back to the corpus — one
  * more corpus-partition-parallel pass, zero corpus shuffles end to end.
  * At 100 TB the win is the read itself: with embeddings stored as
  * fixed-width prefix-sliceable arrays, a d=1024 corpus serves the
  * candidate pass reading prefixDims/d of the vector bytes.
  *
  * Determinism: distances rounded to `roundTo` before every ranking,
  * ties broken by vec_id — both stages are exactly replayable in DuckDB
  * (list slicing + list_distance), so `q_mrl_search` is oracle-checked
  * end to end with zero dumps.
  */
object Matryoshka {

  /** Full MRL serving pass: truncated-prefix candidates, full-dim rerank.
    *
    * @param queries     (query_id, qv) — small, broadcast
    * @param corpus      (vec_id, embedding)
    * @param k           neighbors per query after rerank
    * @param prefixDims  components used for candidate generation
    * @param rerankDepth candidates per query kept for exact rerank
    *                    (recall knob: loss only occurs when a true
    *                    neighbor ranks below this in the prefix space)
    * @return (query_id, vec_id, dist) — k rows per query, full-dim dist
    */
  def searchAll(queries: DataFrame, corpus: DataFrame, k: Int,
                prefixDims: Int, rerankDepth: Int,
                metric: ExactNN.Metric = ExactNN.L2,
                roundTo: Int = 6): DataFrame = {
    require(rerankDepth >= k, s"rerankDepth $rerankDepth < k $k")
    val tq = queries.select(col("query_id"),
      slice(col("qv"), 1, prefixDims).as("qv"))
    val tc = corpus.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val cands = ExactNN.topK(tq, tc, rerankDepth, metric, None, roundTo)
      .select("query_id", "vec_id")
    val rescored = corpus
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"))
    TopK.perQueryTopK(rescored, k)
  }
}
