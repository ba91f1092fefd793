package graft.ann

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{round, row_number}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** The engine's one per-query top-k (the bounded partial aggregation
  * behind [[ExactNN.topK]] and [[TopK.perQueryTopK]]) must be
  * row-identical to the `row_number()` window formulation, including
  * tie handling and thresholds. The window is written out here as the
  * reference; the engine's result top-k has no window form. */
class TopKSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")

  private def queries = emb.orderBy("vec_id").limit(20)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  /** Reference: brute-force scoring, then a per-query window top-k. */
  private def windowTopK(k: Int, metric: ExactNN.Metric,
                         threshold: Option[Double]): Seq[Row] = {
    val scored0 = emb.crossJoin(queries)
      .select($"query_id", $"vec_id",
        round(metric.dist($"qv", $"embedding"), 6).as("dist"))
    val scored = threshold.fold(scored0)(t => scored0.where($"dist" <= t))
    val w = Window.partitionBy("query_id").orderBy($"dist", $"vec_id")
    scored.withColumn("rn", row_number().over(w))
      .where($"rn" <= k).select("query_id", "vec_id", "dist")
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
  }

  test("ExactNN.topK == window reference on testdata (L2)") {
    val got = ExactNN.topK(queries, emb, k = 10, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(got === windowTopK(10, ExactNN.L2, None))
  }

  test("ExactNN.topK == window reference with threshold (cosine)") {
    val got = ExactNN.topK(queries, emb, k = 5, ExactNN.Cosine, threshold = Some(0.8))
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(got === windowTopK(5, ExactNN.Cosine, Some(0.8)))
  }

  test("a NULL distance is not a neighbour: ragged and NULL embeddings are skipped") {
    // the distance kernels return NULL for a different-length or NULL
    // vector; such a pair must neither rank first nor read as 0.0
    val corpus = Seq[(Long, Seq[Double])](
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)), (3L, Seq(3.0, 0.0)),
      (9L, Seq(0.5, 0.5, 0.5)), (10L, null)).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(0.0, 0.0))).toDF("query_id", "qv")
    val got = ExactNN.topK(q, corpus, k = 2, ExactNN.L2)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 1.0), (2L, 2.0)))
  }

  test("a NaN distance is not a neighbour: it never ranks first") {
    // NaN is unordered under < and ==, so once buffered it would stay
    // at the head of the sorted buffer
    val corpus = Seq(
      (1L, Seq(Double.NaN, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(2.0, 0.0)),
      (4L, Seq(0.5, 0.0)), (5L, Seq(3.0, 0.0))).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(0.0, 0.0))).toDF("query_id", "qv")
    val got = ExactNN.topK(q, corpus, k = 2, ExactNN.L2)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((4L, 0.5), (2L, 1.0)))
  }

  test("a NULL vec_id is not a neighbour: it never reads as id 0") {
    val corpus = Seq[(java.lang.Long, Seq[Double])](
      (null, Seq(0.1, 0.0)), (5L, Seq(1.0, 0.0)), (6L, Seq(2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(0.0, 0.0))).toDF("query_id", "qv")
    val got = ExactNN.topK(q, corpus, k = 2, ExactNN.L2)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((5L, 1.0), (6L, 2.0)))
  }

  test("tie eviction is deterministic: equal dists keep lowest vec_id") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)),
      (4L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(0.0, 0.0))).toDF("query_id", "qv")
    val got = ExactNN.topK(q, corpus, k = 3, ExactNN.L2)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((4L, 0.0), (1L, 1.0), (2L, 1.0)))
  }
}
