package graft.ann.lsh

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN

/** End-to-end mini-index tests (FIXTURES.md §2; reference
  * lsh_test.go:228-341) plus recall-vs-exact on synthetic clusters
  * (tolerance-banded, reference-style TestStats §5) and model
  * save/load round-trip (reference TestDumpHasher). */
class LshIndexSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  /** 6 hand-placed 2-D points: 4 clustered, 2 outliers
    * (reference getTestLSHData, lsh_test.go:281-295). */
  private val miniData = Seq(
    (0L, Seq(0.10, 0.10)), // cluster (query point)
    (1L, Seq(0.10, 0.08)),
    (2L, Seq(0.11, 0.09)),
    (3L, Seq(0.09, 0.11)),
    (4L, Seq(-0.10, 0.10)), // outliers
    (5L, Seq(-0.10, 0.08)))

  private def miniDf = miniData.toDF("vec_id", "embedding")

  private def query = Seq((0L, Seq(0.10, 0.10))).toDF("query_id", "qv")

  test("mini-index L2: 3-4 neighbors within threshold, no outliers (TestLshL2)") {
    val idx = Lsh.train(miniDf, "vec_id", "embedding",
      LshConfig(nTrees = 10, kMinVecs = 2, angular = false, seed = 11L))
    val res = idx.searchAll(query, k = 4, distanceThreshold = 0.02,
      metric = ExactNN.L2).collect()
    assert(res.length >= 3 && res.length <= 4, s"got ${res.length} rows")
    val ids = res.map(_.getLong(1)).toSet
    assert(!ids.contains(4L) && !ids.contains(5L))
    // ascending distance, self first
    assert(res.head.getLong(1) === 0L)
  }

  test("mini-index cosine: 3-4 neighbors within threshold (TestLshCosine)") {
    val idx = Lsh.train(miniDf, "vec_id", "embedding",
      LshConfig(nTrees = 10, kMinVecs = 2, angular = true, seed = 11L))
    val res = idx.searchAll(query, k = 4, distanceThreshold = 0.2,
      metric = ExactNN.Cosine).collect()
    assert(res.length >= 3 && res.length <= 4, s"got ${res.length} rows")
    val ids = res.map(_.getLong(1)).toSet
    assert(!ids.contains(4L) && !ids.contains(5L))
  }

  test("LSH results are a subset of brute-force results at same threshold") {
    val rng = new scala.util.Random(5)
    val corpus = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = (0L until 10L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian()))).toDF("query_id", "qv")
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 5, kMinVecs = 20, seed = 9L))
    val lshRes = idx.searchAll(queries, k = 300, distanceThreshold = 3.0)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = ExactNN.topK(queries, corpus, k = 300, ExactNN.L2,
      threshold = Some(3.0))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(lshRes.subsetOf(exact))
  }

  test("recall >= 0.9 on clustered data with generous config (reference recall tables)") {
    val rng = new scala.util.Random(17)
    // 20 Gaussian clusters of 30 points in 8-d
    val centers = Seq.fill(20)(Array.fill(8)(rng.nextGaussian() * 5))
    val corpus = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 30).map { j =>
        (ci * 30L + j, c.toSeq.map(_ + rng.nextGaussian() * 0.3))
      }
    }.toDF("vec_id", "embedding")
    val queries = centers.zipWithIndex.map { case (c, ci) =>
      (ci.toLong, c.toSeq.map(_ + rng.nextGaussian() * 0.3))
    }.toDF("query_id", "qv")
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 15, kMinVecs = 40, seed = 23L))
    val k = 10
    val lshRes = idx.searchAll(queries, k, distanceThreshold = 5.0)
    val exact = ExactNN.topK(queries, corpus, k, ExactNN.L2, threshold = Some(5.0))
    val hits = lshRes.join(exact, Seq("query_id", "vec_id"), "left_semi").count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.9, s"recall $recall")
  }

  test("model save/load round-trip preserves hashes (TestDumpHasher)") {
    val cfg = LshConfig(nTrees = 4, kMinVecs = 2, angular = true, seed = 31L)
    val model = Lsh.fit(miniDf, "embedding", cfg)
    val dir = java.nio.file.Files.createTempDirectory("lsh-model").toString
    model.save(spark, dir)
    val loaded = LshModel.load(spark, dir)
    assert(loaded.config === cfg)
    miniData.foreach { case (_, v) =>
      assert(loaded.hashes(v.toArray).toSeq === model.hashes(v.toArray).toSeq)
    }
  }

  test("corpus >> fit sample: occupancy cap bounds hot buckets and join fan-out") {
    // 2000-row corpus, forest fitted on a 20-row sample (100x ratio):
    // kMinVecs bounds leaf size only over the SAMPLE, so real bucket
    // occupancy grows ~corpus/sample x kMinVecs — the regime where an
    // uncapped bucket self-join fans out quadratically.
    val rng = new scala.util.Random(41)
    val corpus = (0L until 2000L).map(i =>
      (i, Seq.fill(4)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 4, kMinVecs = 5, seed = 7L, sampleCap = 20))

    def maxOccupancy(bk: org.apache.spark.sql.DataFrame): Long =
      bk.groupBy("tree_id", "hash").count()
        .agg(max("count")).head().getLong(0)

    val cap = 16
    assert(maxOccupancy(idx.buckets) > cap,
      "fixture must actually exercise the hot-bucket regime")
    assert(maxOccupancy(idx.cappedBuckets(cap)) <= cap)

    // capped candidates are a subset of uncapped candidates
    val capped = idx.candidatePairs(cap)
      .as[(Long, Long)].collect().toSet
    val uncapped = idx.candidatePairs()
      .as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.nonEmpty)
    // per-bucket pair fan-out is bounded by cap*(cap-1)/2 per tree
    val perBucketPairs = idx.cappedBuckets(cap).as("a")
      .join(idx.cappedBuckets(cap).as("b"),
        col("a.tree_id") === col("b.tree_id") && col("a.hash") === col("b.hash") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.tree_id"), col("a.hash")).count()
      .agg(max("count")).head().getLong(0)
    assert(perBucketPairs <= cap.toLong * (cap - 1) / 2)
  }

  test("filtered search: only allowed ids returned; equals unfiltered search intersected with the allow-list re-cut") {
    // 300-row line corpus, every id probed (generous forest): the
    // allow-list (even ids) applies BEFORE the top-k cut, so the result
    // must equal re-cutting the allowed subset of a deep unfiltered
    // search — and never contain a disallowed id
    val corpus = (0L until 300L).map(i =>
      (i, Seq(i * 0.01, (i % 7) * 0.05))).toDF("vec_id", "embedding")
    val queries = corpus.limit(5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 12, kMinVecs = 30, angular = false, seed = 3L))
    val allowed = corpus.where($"vec_id" % 2 === 0).select("vec_id")
    val filtered = idx.searchAll(queries, 5, 100.0, ExactNN.L2,
        allowed = Some(allowed)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(filtered.forall(_._2 % 2 == 0), "disallowed id in filtered result")
    val deep = idx.searchAll(queries, 300, 100.0, ExactNN.L2)
      .where($"vec_id" % 2 === 0)
    val recut = graft.ann.TopK.perQueryTopK(deep, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(filtered.toSet === recut.toSet,
      "filter-before-cut diverged from deep-search-then-recut")
  }

  test("ragged or null embeddings fail the fit with a named error") {
    val cfg = LshConfig(nTrees = 3, kMinVecs = 1, seed = 5L)
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Lsh.fit(ragged, "embedding", cfg)
    }
    assert(e1.getMessage.contains("ragged"))
    val withNull = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Lsh.fit(withNull, "embedding", cfg)
    }
    assert(e2.getMessage.contains("null"))
  }

  test("a NaN or infinite fit sample fails the fit with a named error") {
    val cfg = LshConfig(nTrees = 3, kMinVecs = 1, seed = 5L)
    val finite = (1 to 6).map(i => (i.toLong, Seq(i.toFloat, -i.toFloat)))
    Seq(Float.NaN, Float.PositiveInfinity).foreach { bad =>
      val df = (finite :+ ((7L, Seq(bad, 1.0f)))).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Lsh.fit(df, "embedding", cfg)
      }
      assert(e.getMessage.contains("not finite"), s"$bad: ${e.getMessage}")
    }
  }

  test("bucket rows: nTrees entries per vector, stats are consistent") {
    val cfg = LshConfig(nTrees = 7, kMinVecs = 2, seed = 3L)
    val idx = Lsh.train(miniDf, "vec_id", "embedding", cfg)
    assert(idx.buckets.count() === miniData.size * cfg.nTrees)
    val stats = idx.bucketStats.collect()
    assert(stats.length === cfg.nTrees)
    assert(stats.map(_.getAs[Long]("n_entries")).forall(_ === miniData.size))
  }
}
