package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed per-key top-k as a partial aggregation — the engine's one
  * top-k, the 100 TB-scale form of the reference's min-heap top-k
  * (lsh/lsh.go:22-45,192-195; SURVEY.md §2 O13f "v2").
  *
  * A `row_number() OVER (PARTITION BY query ORDER BY dist)` window must
  * shuffle EVERY scored candidate row to sort it; this Aggregator keeps a
  * bounded buffer of the best k per (partition, query) map-side, so the
  * shuffle moves at most `numPartitions * k` rows per query regardless of
  * corpus size — a local top-k per partition, then one global merge.
  *
  * Determinism: ordering is (dist, vec_id) everywhere — including the
  * capacity eviction — so the result is identical to the window
  * formulation (ties pinned by vec_id, SURVEY.md §7.4; TopKSpec keeps
  * the window as its reference). A pair whose distance is NULL (the
  * distance kernels' answer for a NULL or different-length vector) is
  * not a neighbour and is skipped.
  *
  * The buffer is a pair of primitive arrays (ids, dists) kept sorted,
  * mutated in place: Spark holds a TypedImperativeAggregate's buffer as a
  * live object between rows and only encodes it at partial-aggregation
  * shuffle boundaries, so per-row insertion is a binary search plus an
  * `arraycopy` shift — no per-row Seq allocation on the hottest
  * aggregation path. Primitive arrays also keep the buffer encoder
  * null-free (slots past `size` are just zeros).
  */
object TopK {

  final case class Neighbor(vec_id: Long, dist: Double)

  /** Aggregator input: the id and the distance are boxed so a NULL
    * stays NULL instead of arriving as 0 / 0.0. */
  final case class Scored(vec_id: java.lang.Long, dist: java.lang.Double)

  /** Mutable bounded buffer: the first `size` slots of (ids, dists) are
    * filled, sorted ascending by (dist, id). */
  final case class Buf(var size: Int, ids: Array[Long], dists: Array[Double])

  /** @param dedupPairs skip an incoming (dist, id) pair already held in
    *   the buffer — per-key DISTINCT folded into the same aggregation.
    *   This dedups identical PAIRS only (the graph walk's case: dist is
    *   a pure function of (query, node), so duplicate candidates always
    *   carry equal dists), which is exactly an upstream
    *   `dropDuplicates` — one whole shuffle round — for free: equal
    *   pairs sort adjacent, so the duplicate check is one probe at the
    *   insertion point. A pair evicted for rank stays evicted (its
    *   re-insert fails the same rank test), so merge order cannot
    *   resurrect or double-count anything. */
  final class TopKAggregator(k: Int, dedupPairs: Boolean = false)
      extends Aggregator[Scored, Buf, Seq[Neighbor]] {

    override def zero: Buf = Buf(0, new Array[Long](k), new Array[Double](k))

    /** First index whose (dist, id) sorts after the probe. */
    private def pos(b: Buf, dist: Double, id: Long): Int = {
      var lo = 0
      var hi = b.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dist < b.dists(mid) || (dist == b.dists(mid) && id < b.ids(mid)))
          hi = mid
        else lo = mid + 1
      }
      lo
    }

    private def add(b: Buf, id: Long, dist: Double): Unit = {
      if (b.size < k) {
        val i = pos(b, dist, id)
        if (dedupPairs && i > 0 && b.dists(i - 1) == dist && b.ids(i - 1) == id)
          return
        System.arraycopy(b.ids, i, b.ids, i + 1, b.size - i)
        System.arraycopy(b.dists, i, b.dists, i + 1, b.size - i)
        b.ids(i) = id
        b.dists(i) = dist
        b.size += 1
      } else {
        val lastD = b.dists(k - 1)
        if (dist < lastD || (dist == lastD && id < b.ids(k - 1))) {
          val i = pos(b, dist, id)
          if (dedupPairs && i > 0 && b.dists(i - 1) == dist && b.ids(i - 1) == id)
            return
          System.arraycopy(b.ids, i, b.ids, i + 1, k - 1 - i)
          System.arraycopy(b.dists, i, b.dists, i + 1, k - 1 - i)
          b.ids(i) = id
          b.dists(i) = dist
        }
      }
    }

    /** A pair with no id or no comparable distance (NULL or NaN, which
      * no `<` orders) is not a neighbour. */
    override def reduce(b: Buf, n: Scored): Buf = {
      if (n.vec_id != null && n.dist != null && !n.dist.isNaN)
        add(b, n.vec_id, n.dist)
      b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      var i = 0
      while (i < b.size) {
        add(a, b.ids(i), b.dists(i))
        i += 1
      }
      a
    }

    override def finish(b: Buf): Seq[Neighbor] =
      (0 until b.size).map(i => Neighbor(b.ids(i), b.dists(i)))

    override def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder()
  }

  /** Column form: `topK(k)(vec_id, dist)` aggregates to
    * `array<struct<vec_id, dist>>` ascending by (dist, vec_id). */
  def topK(k: Int): (Column, Column) => Column = {
    val agg = udaf(new TopKAggregator(k), Encoders.product[Scored])
    (id: Column, dist: Column) => agg(id, dist)
  }

  /** [[topK]] with per-key (dist, vec_id)-pair dedup folded into the
    * buffer (see [[TopKAggregator]] `dedupPairs`): equivalent to
    * `dropDuplicates` + `topK` in ONE shuffle — the graph walk's hop
    * tail, where every hop otherwise pays a dedicated dedup exchange. */
  def topKDistinct(k: Int): (Column, Column) => Column = {
    val agg = udaf(new TopKAggregator(k, dedupPairs = true),
      Encoders.product[Scored])
    (id: Column, dist: Column) => agg(id, dist)
  }

  /** Per-query top-k over a scored (query_id, vec_id, dist) frame — the
    * shared tail of every search (exact, LSH, IVF, the quantized scans):
    * (query_id, vec_id, dist), at most k rows per query ascending by
    * (dist, vec_id). */
  def perQueryTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(topK(k)(col("vec_id"), col("dist")).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("n"))
      .select(col("query_id"), col("n.vec_id").as("vec_id"),
        col("n.dist").as("dist"))

  /** Compatibility forwarder that exists only for the benchmark harness
    * (`lshbench/`), which still passes the retired window/aggregator
    * flag. The flag is ignored: the aggregator is the only form. */
  @deprecated("the aggregator is the only form; call perQueryTopK(scored, k)",
    "0.1.0")
  def perQueryTopK(scored: DataFrame, k: Int,
                   viaAggregator: Boolean): DataFrame =
    perQueryTopK(scored, k)
}
