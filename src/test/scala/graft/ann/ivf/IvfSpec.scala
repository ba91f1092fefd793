package graft.ann.ivf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN

/** IVF coarse-quantizer index: k-means determinism, cell assignment
  * totality, full-probe == exact recall, and partial-probe recall bound
  * on clustered data (tolerance-banded, reference-style §5 strategy). */
class IvfSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  /** 4 well-separated 2-D clusters of 25 points each (deterministic). */
  private def clustered = {
    val centers = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0))
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 25
    } yield {
      val dx = (i % 5) * 0.1; val dy = (i / 5) * 0.1
      ((ci * 25 + i).toLong, Seq(c._1 + dx, c._2 + dy))
    }
    pts.toDF("vec_id", "embedding")
  }

  test("deterministic fit: same seed, same centroids") {
    val a = Ivf.fit(clustered, "embedding", IvfConfig(nCells = 4, seed = 7L))
    val b = Ivf.fit(clustered, "embedding", IvfConfig(nCells = 4, seed = 7L))
    assert(a.centroids.map(_.toSeq).toSeq === b.centroids.map(_.toSeq).toSeq)
  }

  test("every vector lands in exactly one cell; 4 clusters -> 4 occupied cells") {
    val idx = Ivf.train(clustered, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 1, seed = 7L))
    val stats = idx.cellStats.collect()
    assert(stats.map(_.getLong(1)).sum === 100L)
    assert(stats.length === 4)
    // k-means on 4 tight well-separated clusters balances perfectly
    assert(stats.map(_.getLong(1)).toSet === Set(25L))
  }

  test("full probe (nProbe = nCells) reproduces exact NN") {
    val q = clustered.limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Ivf.train(clustered, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 4, seed = 7L))
    val pred = idx.searchAll(q, k = 5, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gt = ExactNN.topK(q, clustered, k = 5, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pred === gt)
  }

  test("filtered search: full probe + allow-list == exact NN over the filtered subset") {
    val q = clustered.limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Ivf.train(clustered, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 4, seed = 7L))
    val allowed = clustered.where($"vec_id" % 2 === 0)
    val pred = idx.searchAll(q, k = 5, ExactNN.L2,
        allowed = Some(allowed.select("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gt = ExactNN.topK(q, allowed, k = 5, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pred === gt, "filtered full-probe search diverged from exact filtered NN")
    assert(pred.forall(_._2 % 2 == 0), "disallowed vec_id in filtered result")
  }

  test("nProbe=1 on separated clusters still achieves full recall (cluster-local NNs)") {
    val q = clustered.limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Ivf.train(clustered, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 1, seed = 7L))
    val pred = idx.searchAll(q, k = 5, ExactNN.L2)
    val gt = ExactNN.topK(q, clustered, k = 5, ExactNN.L2)
    val recall = graft.eval.Eval.setPrecisionRecall(pred, gt)
      .agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.99, s"recall $recall")
  }

  /** Directionally-clustered, magnitude-scrambled corpus: 4 direction
    * cones whose member magnitudes span 0.5-50x. Raw-L2 cells partition
    * by magnitude; spherical (angular) cells partition by direction —
    * the only geometry under which cosine probes select the right cells. */
  private def cones = {
    val dirs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val pts = for {
      (d, di) <- dirs.zipWithIndex
      i <- 0 until 25
    } yield {
      val mag = 0.5 + (i % 10) * 5.0          // 0.5 .. 45.5
      val wobble = 0.05 * (i / 10)            // small in-cone spread
      val v = d.zipWithIndex.map { case (x, j) =>
        mag * (x + (if (j == (di + 1) % 4) wobble else 0.0))
      }
      ((di * 25 + i).toLong, v)
    }
    pts.toDF("vec_id", "embedding")
  }

  test("angular mode: spherical cells give full cosine recall at nProbe=1 where raw-L2 cells do not") {
    val q = cones.where($"vec_id" % 25 < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val gt = ExactNN.topK(q, cones, k = 5, ExactNN.Cosine)
    def recallOf(angular: Boolean): Double = {
      val idx = Ivf.train(cones, "vec_id", "embedding",
        IvfConfig(nCells = 4, nProbe = 1, seed = 7L, angular = angular))
      graft.eval.Eval.setPrecisionRecall(
          idx.searchAll(q, k = 5, ExactNN.Cosine), gt)
        .agg(avg("recall")).head().getDouble(0)
    }
    val angularRecall = recallOf(angular = true)
    val rawRecall = recallOf(angular = false)
    assert(angularRecall >= 0.99, s"angular recall $angularRecall")
    // raw-L2 cells split cones by magnitude, so single-probe cosine
    // search misses same-direction/different-magnitude neighbors
    assert(rawRecall < 0.9,
      s"raw-L2 recall $rawRecall — corpus no longer separates the modes")
  }

  /** The early-abandon argmin (dist2Bounded) must be bit-identical to
    * the naive full-distance argmin — including lowest-cell-id
    * tie-breaking, exercised here via duplicated centroids. */
  test("early-abandon cell assignment matches the naive argmin exactly") {
    val rnd = new scala.util.Random(123)
    val dims = 48
    val base = Array.fill(35)(Array.fill(dims)(rnd.nextGaussian()))
    // duplicate two centroids so exact ties exist; naive argmin keeps
    // the lowest index, and cellOf must do the same
    val cents = base ++ Array(base(3).clone(), base(17).clone())
    val model = new IvfModel(IvfConfig(nCells = cents.length), cents)
    (0 until 500).foreach { t =>
      // mix of generic points and exact centroid hits (distance-0 ties)
      val v = if (t % 7 == 0) cents(t % cents.length).clone()
              else Array.fill(dims)(rnd.nextGaussian())
      var naive = 0; var nd = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var s = 0.0; var i = 0
        while (i < dims) { val d = v(i) - cents(c)(i); s += d * d; i += 1 }
        if (s < nd) { nd = s; naive = c }
        c += 1
      }
      assert(model.cellOf(v) === naive, s"trial $t")
    }
  }

  test("angular mode: deterministic fit and unit-norm centroids") {
    val a = Ivf.fit(cones, "embedding",
      IvfConfig(nCells = 4, seed = 7L, angular = true))
    val b = Ivf.fit(cones, "embedding",
      IvfConfig(nCells = 4, seed = 7L, angular = true))
    assert(a.centroids.map(_.toSeq).toSeq === b.centroids.map(_.toSeq).toSeq)
    // centroids are means of unit vectors: norms in (0, 1], and for
    // tight cones close to 1
    a.centroids.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(n > 0.9 && n <= 1.0 + 1e-9, s"centroid norm $n")
    }
  }

  /** Cell assignment is a stateless native expression, so a fitted
    * model's transform runs unchanged over readStream — the IVF twin of
    * StreamingIndexSpec's LSH stream==batch check, run in angular mode
    * so the normalize-then-assign path is exercised under streaming. */
  test("model.transform over a vector stream equals the batch transform (angular)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val model = Ivf.fit(cones, "embedding",
      IvfConfig(nCells = 4, seed = 7L, angular = true))
    val rows = cones.select($"vec_id", $"embedding")
      .as[(Long, Seq[Double])].collect().toSeq
    val batch = model.transform(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .orderBy("vec_id").collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = model.transform(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .writeStream.format("memory").queryName("ivf_cell_updates")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(50): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(50): _*)
      q.processAllAvailable()
      val streamed = spark.table("ivf_cell_updates")
        .orderBy("vec_id").collect().toSeq
      assert(streamed === batch)
      assert(streamed.size === rows.size)
    } finally q.stop()
  }

  test("testdata embeddings: nProbe=8/16 recall above 0.8") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.orderBy("vec_id").limit(50)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Ivf.train(emb, "vec_id", "embedding",
      IvfConfig(nCells = 16, nProbe = 8, seed = 42L))
    val pred = idx.searchAll(q, k = 10, ExactNN.L2)
    val gt = ExactNN.topK(q, emb, k = 10, ExactNN.L2)
    val recall = graft.eval.Eval.setPrecisionRecall(pred, gt)
      .agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.8, s"recall $recall")
  }
}
