package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.lsh.{Lsh, LshConfig}

/** Streaming index maintenance: a fitted LSH model's hashing is a pure
  * map-side projection, so it runs unchanged over a readStream of newly
  * arriving vectors — the incremental append path for keeping the index
  * fresh without retraining (the forest is fixed; only table rows are
  * appended, exactly like the reference's SetHash writes on Train,
  * lsh.go:123-128, but continuous). */
class StreamingIndexSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("foreachBatch sink appends streamed bucket rows into a saved index") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val existing = emb.where($"vec_id" >= 100)
    val arriving = emb.where($"vec_id" < 100)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq

    // train on the existing corpus, persist the index
    val dir = java.nio.file.Files.createTempDirectory("stream_idx").toString
    val idx = graft.ann.lsh.Lsh.train(existing, "vec_id", "embedding",
      LshConfig(nTrees = 6, kMinVecs = 30, seed = 3L))
    idx.save(spark, dir)
    val before = spark.read.parquet(s"$dir/hashed").count()

    // stream newly arriving vectors; each micro-batch appends their rows,
    // hashed through the fitted forest, to the saved LSH table
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = idx.model.hashedRows(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$dir/hashed")
      }
      .outputMode("append").start()
    try {
      mem.addData(arriving: _*)
      q.processAllAvailable()
    } finally q.stop()

    // the reopened index now serves the streamed vectors
    val after = spark.read.parquet(s"$dir/hashed").count()
    assert(after === before + arriving.size)
    val reopened = graft.ann.lsh.Lsh.load(spark, dir)
    assert(reopened.buckets.count() === (before + arriving.size) * 6)
    val qdf = Seq((arriving.head._1, arriving.head._2.map(_.toDouble)))
      .toDF("query_id", "qv")
    val res = reopened.searchAll(qdf, 5, 10.0).collect()
    assert(res.map(_.getLong(1)).contains(arriving.head._1)) // finds itself
  }

  test("model.transform over a vector stream equals the batch transform") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val model = Lsh.fit(emb, "embedding", LshConfig(nTrees = 6, kMinVecs = 30, seed = 3L))

    val newVecs = emb.limit(50)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val batch = model.transform(
        newVecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .orderBy("vec_id", "tree_id").collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = model.transform(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .writeStream.format("memory").queryName("bucket_updates")
      .outputMode("append").start()
    try {
      mem.addData(newVecs.take(25): _*)
      q.processAllAvailable()
      mem.addData(newVecs.drop(25): _*)
      q.processAllAvailable()
      val streamed = spark.table("bucket_updates")
        .orderBy("vec_id", "tree_id").collect().toSeq
      assert(streamed === batch)
      assert(streamed.size === 50 * 6) // one bucket row per tree per vector
    } finally q.stop()
  }
}
