package graft.ann.ivf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN
import graft.eval.Eval

/** The distributed coarse-quantizer fit (MLlib k-means|| above
  * `driverFitMaxSample`) — the scale path past the driver-collect
  * bound. Contract: NOT bit-identical centroids (different seeded
  * init), but same-operating-point recall parity with the driver fit,
  * plus the structural invariants every IVF model carries (nCells
  * centroids, complete unique assignment, searches serve k rows). */
class DistributedFitSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  // 40 well-separated clusters x 50 points: recall at nProbe=4 is a
  // real (non-saturated) number for both fit paths
  private def mkCorpus(n: Int = 2000, seed: Int = 7) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = i % 40
      val centre = Seq.tabulate(8)(j =>
        new scala.util.Random(c * 131 + j).nextGaussian() * 10)
      (i.toLong, centre.map(_ + rng.nextGaussian() * 0.4))
    }.toDF("vec_id", "embedding")
  }

  private def queriesOf(corpus: org.apache.spark.sql.DataFrame, n: Int) =
    corpus.orderBy("vec_id").limit(n)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def avgRecall(pred: org.apache.spark.sql.DataFrame,
                        gt: org.apache.spark.sql.DataFrame): Double =
    Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
        gt.select("query_id", "vec_id"))
      .agg(avg("recall")).head().getDouble(0)

  test("IVF: distributed fit matches driver-fit recall at the same operating point") {
    val corpus = mkCorpus()
    val q = queriesOf(corpus, 50)
    val gt = ExactNN.topK(q, corpus, 10, ExactNN.L2)
    val cfg = IvfConfig(nCells = 16, nProbe = 4, seed = 42L)
    val driver = Ivf.train(corpus, "vec_id", "embedding", cfg)
    // threshold 1 forces the distributed path on the same data
    val dist = Ivf.train(corpus, "vec_id", "embedding",
      cfg.copy(driverFitMaxSample = 1))

    // structural invariants
    assert(dist.model.centroids.length === 16)
    assert(dist.cells.count() === 2000L)
    assert(dist.cells.select("vec_id").distinct().count() === 2000L)
    assert(dist.cells.select("cell").distinct().count() <= 16L)

    val rDriver = avgRecall(driver.searchAll(q, 10), gt)
    val rDist = avgRecall(dist.searchAll(q, 10), gt)
    assert(rDist >= rDriver - 0.05,
      s"distributed-fit recall $rDist below driver-fit $rDriver - 0.05")
    // and the full probe is exact for both (every cell visited)
    val rFull = avgRecall(dist.withNProbe(16).searchAll(q, 10), gt)
    assert(rFull === 1.0, s"all-probe recall $rFull != 1.0")
  }

  test("angular IVF: distributed fit normalizes map-side, cosine recall parity") {
    val corpus = mkCorpus(seed = 11)
    val q = queriesOf(corpus, 50)
    val gt = ExactNN.topK(q, corpus, 10, ExactNN.Cosine)
    val cfg = IvfConfig(nCells = 16, nProbe = 4, seed = 42L, angular = true)
    val driver = Ivf.train(corpus, "vec_id", "embedding", cfg)
    val dist = Ivf.train(corpus, "vec_id", "embedding",
      cfg.copy(driverFitMaxSample = 1))
    val rDriver = avgRecall(driver.searchAll(q, 10, ExactNN.Cosine), gt)
    val rDist = avgRecall(dist.searchAll(q, 10, ExactNN.Cosine), gt)
    assert(rDist >= rDriver - 0.05,
      s"angular distributed recall $rDist below driver $rDriver - 0.05")
  }

  test("the board's distfit twin config dispatches to the k-means|| path") {
    // q_ivf_search_l2_distfit's promise is that the DISTRIBUTED fit sits
    // under the driver's correctness gate — pin that its config actually
    // takes that path: Ivf.fit with the board config must produce
    // exactly fitCentroidsDistributed's centroids (any corpus larger
    // than driverFitMaxSample = 1 dispatches distributed).
    val corpus = mkCorpus(seed = 19)
    val cfg = graft.queries.CompressedQueries.ivfDistFitConfig
    assert(cfg.driverFitMaxSample === 1)
    val viaFit = Ivf.fit(corpus, "embedding", cfg).centroids
    val direct = Ivf.fitCentroidsDistributed(corpus, "embedding",
      cfg.nCells, cfg.iters, cfg.seed, cfg.angular)
    assert(viaFit.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq,
      "board distfit config did not dispatch to fitCentroidsDistributed")
  }

  test("distributed fit is reproducible: same data + seed => same centroids") {
    val corpus = mkCorpus(seed = 13)
    val cfg = IvfConfig(nCells = 8, nProbe = 4, seed = 42L,
      driverFitMaxSample = 1)
    val a = Ivf.fit(corpus, "embedding", cfg).centroids
    val b = Ivf.fit(corpus, "embedding", cfg).centroids
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("IVF-PQ: distributed coarse + driver-bounded codebook sample keeps rerank recall") {
    val corpus = mkCorpus(seed = 17)
    val q = queriesOf(corpus, 30)
    val gt = ExactNN.topK(q, corpus, 10, ExactNN.L2)
    val cfg = graft.ann.ivfpq.IvfPqConfig(nCells = 8, nProbe = 8,
      numSubvectors = 4, codesPerSubvector = 16, seed = 42L)
    val vectors = corpus.select($"vec_id", $"embedding")
    val driver = graft.ann.ivfpq.IvfPq.train(corpus, "vec_id", "embedding", cfg)
    // the codebook sub-sample is capped at 500 of the 2000 sample rows
    val dist = graft.ann.ivfpq.IvfPq.train(corpus, "vec_id", "embedding",
      cfg.copy(driverFitMaxSample = 500))
    val rDriver = avgRecall(
      driver.searchRerank(q, vectors, 10, rerankDepth = 100), gt)
    val rDist = avgRecall(
      dist.searchRerank(q, vectors, 10, rerankDepth = 100), gt)
    assert(rDist >= rDriver - 0.05,
      s"IVF-PQ distributed-coarse recall $rDist below driver $rDriver - 0.05")
    assert(dist.codes.count() === 2000L)
  }
}
