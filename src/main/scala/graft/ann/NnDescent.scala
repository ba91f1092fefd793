package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NN-Descent k-NN graph refinement (Dong, Charikar & Li, WWW 2011 —
  * "Efficient k-nearest neighbor graph construction for generic
  * similarity measures").
  *
  * The principle: a neighbor of a neighbor is likely a neighbor. Each
  * round proposes, for every node, the neighbors-of-its-neighbors as new
  * edge candidates, scores ONLY those proposals exactly, and keeps each
  * node's best k of (current ∪ proposed). Started from any cheap
  * approximate graph (here: the LSH same-bucket graph,
  * [[KnnGraph.fromLsh]]), a couple of rounds converge toward the exact
  * graph without ever going all-pairs — the standard way to push a
  * bucket-recall graph (~0.9) to near-exact (~0.99+) when the bucketing
  * alone tops out.
  *
  * Spark shape (everything is bounded joins — no all-pairs, no
  * driver-side state):
  *
  *  1. reverse edges are capped at `maxReverseDegree` per node via the
  *     bounded [[TopK]] aggregation — the paper's reverse-sampling step,
  *     and the skew guard: a hub vector with huge in-degree would
  *     otherwise fan the co-neighbor join out quadratically in its
  *     in-degree;
  *  2. general neighbors (out ∪ capped-reverse) self-join on the shared
  *     center node — per-center fan-out is ≤ (k + maxReverseDegree)²
  *     rows by construction, so one round emits at most
  *     n·(k+maxReverseDegree)² proposals regardless of corpus size;
  *  3. proposals are deduped, anti-joined against edges already in the
  *     graph (never re-score a known edge), scored with the native
  *     distance kernels on candidates only;
  *  4. per-node bounded top-k over (current ∪ scored proposals) — ties
  *     pinned by (dist, dst), the [[TopK]] determinism contract;
  *  5. `localCheckpoint` per round truncates the iterative lineage
  *     (same rationale as the connected-components loop,
  *     text/Dedup.scala).
  *
  * At 100 TB: every step shuffles O(n·k) edge rows keyed by node id —
  * never embeddings, never all-pairs. The embedding table is touched
  * once per round, by the proposal-scoring join, keyed on vec_id.
  *
  * Determinism: with a deterministic starting graph, every round is a
  * deterministic function of the previous one (caps and top-k both
  * order by (dist, id); proposal dedup is exact), so the refined graph
  * is reproducible run-to-run — unlike the paper's sampled variant,
  * full neighbor expansion with a deterministic cap needs no RNG.
  *
  * Seeding matters (measured, NnDescentSpec): from a RANDOM seed graph
  * on a clustered corpus the recall curve is 0.01 → 0.67 → 0.92 → 0.98
  * → 0.99 over four rounds — the paper's shape; from a ring seed the
  * co-neighbor expansion only doubles its ring radius per round
  * (diameter n/k rounds before it mixes) and measurably stalls. Seed
  * with either random edges or a geometry-informed graph (the LSH
  * graph), never a purely local structure. Convergence also requires
  * the corpus to HAVE neighbor-of-neighbor structure: on a near-iid
  * high-dimensional background the method barely moves (Dong et al.
  * §5.4's intrinsic-dimension caveat) — which is why the driver query
  * grades the lift cross-engine instead of assuming it.
  */
object NnDescent {

  /** Refine `graph0` (src, dst, dist — at most k per src, dist already
    * rounded to `roundTo`) for `iterations` rounds against `vectors`.
    * Returns the refined graph in the same shape. */
  def refine(graph0: DataFrame, vectors: DataFrame, idCol: String,
             vecCol: String, k: Int,
             metric: ExactNN.Metric = ExactNN.Cosine,
             iterations: Int = 2,
             maxReverseDegree: Int = 0,
             roundTo: Int = 6): DataFrame = {
    val revCap = if (maxReverseDegree > 0) maxReverseDegree else k
    val va = vectors.select(col(idCol).as("src"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("dst"), col(vecCol).as("vb"))
    var graph = graph0.select(col("src"), col("dst"), col("dist"))
      .localCheckpoint()
    var it = 0
    while (it < iterations) {
      // 1. Reverse edges, capped per node (the skew guard).
      val rev = TopK.perQueryTopK(
          graph.select(col("dst").as("query_id"), col("src").as("vec_id"),
            col("dist")),
          revCap)
        .select(col("query_id").as("center"), col("vec_id").as("member"))
      // 2. General neighbors: center -> member, both directions.
      val gen = graph.select(col("src").as("center"), col("dst").as("member"))
        .unionByName(rev)
        .dropDuplicates("center", "member")
      // 3. Co-neighbor proposals: members sharing a center propose each
      // other (both orders fall out of the join), minus known edges.
      val prop = gen.as("a")
        .join(gen.as("b"), col("a.center") === col("b.center"))
        .where(col("a.member") =!= col("b.member"))
        .select(col("a.member").as("src"), col("b.member").as("dst"))
        .dropDuplicates("src", "dst")
        .join(graph.select(col("src"), col("dst")), Seq("src", "dst"),
          "left_anti")
      // 4. Exact distances on proposals only; keep best k of old ∪ new.
      val scored = prop
        .join(va, "src")
        .join(vb, "dst")
        .select(col("src"), col("dst"),
          round(metric.dist(col("va"), col("vb")), roundTo).as("dist"))
      val merged = graph.unionByName(scored)
        .select(col("src").as("query_id"), col("dst").as("vec_id"),
          col("dist"))
      graph = TopK.perQueryTopK(merged, k)
        .select(col("query_id").as("src"), col("vec_id").as("dst"),
          col("dist"))
      it += 1
      // Truncate the iterative lineage BETWEEN rounds only — the final
      // round's plan stays declarative for the caller (who will write
      // or aggregate it anyway; an eager final materialization would be
      // a wasted pass).
      if (it < iterations) graph = graph.localCheckpoint()
    }
    graph
  }
}
