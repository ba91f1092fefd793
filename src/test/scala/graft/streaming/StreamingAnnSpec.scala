package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.{ExactNN, TopK}
import graft.functions.exprs

/** Streaming ANN: query vectors arrive as a stream, the corpus is static
  * (stream-static join), and per-query top-k runs through the TopK
  * partial aggregation — window functions are unsupported on streams,
  * the bounded-buffer aggregator is the form that works in BOTH modes.
  * Results must match the batch exact-NN oracle path. */
class StreamingAnnSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("streamed queries x static corpus through TopK == batch exact NN") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.orderBy("vec_id").limit(10)
      .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("qv"))
      .as[(Long, Seq[Double])].collect().toSeq

    val batch = ExactNN.topK(queries.toDF("query_id", "qv"), emb, k = 5)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val scored = mem.toDF().toDF("query_id", "qv")
      .join(emb) // stream-static cross join; corpus side is the static plan
      .select($"query_id", $"vec_id",
        round(exprs.l2DistNative($"qv", $"embedding"), 6).as("dist"))
    val topk = scored
      .groupBy("query_id")
      .agg(TopK.topK(5)($"vec_id", $"dist").as("nn"))
      .select($"query_id", explode($"nn").as("n"))
      .select($"query_id", $"n.vec_id".as("vec_id"), $"n.dist".as("dist"))
    val q = topk.writeStream.format("memory").queryName("stream_ann")
      .outputMode("complete").start()
    try {
      mem.addData(queries.take(4): _*)
      q.processAllAvailable()
      mem.addData(queries.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_ann")
        .orderBy("query_id", "dist", "vec_id").collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }
}
