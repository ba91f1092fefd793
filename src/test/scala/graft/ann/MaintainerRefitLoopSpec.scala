package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.sq.Sq

/** The closed drift loop THROUGH THE MAINTAINER API (DriftLifecycleSpec
  * proves the pieces compose by hand-orchestrating them; this spec
  * drives the same tune → drift → refit → re-certify cycle with the
  * maintainer primitives an operator actually deploys):
  *
  *   - `refitDue` fires only on SUSTAINED drift — `refitAfterBreaches`
  *     CONSECUTIVE drifted batches; one clean batch resets the run
  *     (the DriftCheck small-batch noise caveat as scheduling);
  *   - the breach run is PERSISTENT (the manifest's `drift_breaches`): a
  *     reconstructed maintainer agrees, like `compactionDue`;
  *   - [[CodesMaintainer.refitAndSwap]] retrains atomically: codes +
  *     model dirs land in a new generation and commit through one
  *     manifest publish, the serving view lands
  *     EXACTLY where a fresh build over the live corpus lands (SQ's
  *     deterministic fit makes that row-identity, not approximation),
  *     later batches encode through the NEW model, and the breach run
  *     resets;
  *   - the refit index re-certifies the recall target through the
  *     AutoTune sweep (the "re-tune after refit" step of the loop);
  *   - [[graft.ann.lsh.LshMaintainer.refitNow]] participates in the
  *     same refitDue/reset contract.
  */
class MaintainerRefitLoopSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def mkVecs(n: Int, seed: Int, shift: Double = 0.0,
                     idBase: Long = 0L) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (idBase + i,
        Seq.fill(6)(rng.nextGaussian() + shift)))
      .toDF("vec_id", "embedding")
  }

  private def rows(codes: DataFrame): Map[Long, String] =
    codes.collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.schema.fieldNames.filterNot(_ == "vec_id").sorted
          .map(f => r.get(r.fieldIndex(f))).mkString("|"))
    }.toMap

  test("codes store: sustained drift -> refitDue -> refitAndSwap -> re-certified") {
    val fit = mkVecs(1500, seed = 3)
    val dir = java.nio.file.Files.createTempDirectory("refit_loop").toString
    DriftCheck.writeFitStats(fit, s"$dir/fit_stats")
    val idx = Sq.train(fit, "vec_id", "embedding")
    idx.save(spark, s"$dir/idx")
    def mk() = new CodesMaintainer(spark, s"$dir/idx",
      encode = a => idx.model.transformDf(a, "vec_id", "embedding"),
      compactEvery = 100,
      driftCheck = Some(new DriftCheck(spark, s"$dir/fit_stats")),
      refitAfterBreaches = 2)
    val m = mk()

    // 1. a drifted batch starts the run but does NOT fire refitDue
    m.onBatch(Some(mkVecs(800, seed = 5, shift = 6.0, idBase = 10000)), None)
    assert(m.driftBreaches === 1 && !m.refitDue,
      s"one breach must not fire refitDue (${m.driftBreaches})")
    // 2. a clean batch resets the run — one noisy batch is not drift
    m.onBatch(Some(mkVecs(800, seed = 7, idBase = 20000)), None)
    assert(m.driftBreaches === 0 && !m.refitDue,
      "a clean batch must reset the breach run")
    // 3. two consecutive drifted batches fire refitDue
    m.onBatch(Some(mkVecs(800, seed = 9, shift = 6.0, idBase = 30000)), None)
    m.onBatch(Some(mkVecs(800, seed = 11, shift = 6.0, idBase = 40000)), None)
    assert(m.refitDue, s"run ${m.driftBreaches} must fire refitDue")
    // 4. persistence: a reconstructed maintainer still says refit
    assert(mk().refitDue, "refitDue lost across reconstruction")

    // 5. refit-and-swap on the live corpus, through the maintainer
    val corpus = fit
      .unionByName(mkVecs(800, seed = 5, shift = 6.0, idBase = 10000))
      .unionByName(mkVecs(800, seed = 7, idBase = 20000))
      .unionByName(mkVecs(800, seed = 9, shift = 6.0, idBase = 30000))
      .unionByName(mkVecs(800, seed = 11, shift = 6.0, idBase = 40000))
    val model2 = Sq.fit(corpus, "embedding")
    m.refitAndSwap(corpus,
      newEncode = df => model2.transformDf(df, "vec_id", "embedding"),
      writeModel = tmp => model2.save(spark, tmp),
      modelSubs = Seq("bounds", "meta"))
    DriftCheck.writeFitStats(corpus, s"$dir/fit_stats")

    // the swap is exact: serving == a fresh build over the live corpus
    // (SQ's fit is deterministic), both live and reloaded from disk
    val want = rows(Sq.train(corpus, "vec_id", "embedding").codes)
    assert(rows(m.liveCodes) === want, "refit serving != fresh build")
    assert(rows(Sq.load(spark, s"$dir/idx").codes) === want,
      "refit model/codes dirs not swapped on disk")
    assert(!m.refitDue && m.driftBreaches === 0,
      "refit must reset the breach run")
    val refit = graft.LsmTestKit.manifest(spark, s"$dir/idx")
    assert(refit.bare && refit.logs != ".",
      "refit commit must start a fresh log generation")

    // 6. later batches encode through the NEW model. The batch is
    // drawn from the refit corpus's MIXTURE (the refreshed stats
    // describe both modes; a pure-mode batch would correctly flag —
    // the DriftLifecycleSpec mixture-reference contract)
    val late = mkVecs(400, seed = 13, shift = 6.0, idBase = 50000)
      .unionByName(mkVecs(400, seed = 15, idBase = 60000))
    m.onBatch(Some(late), None)
    val lateWant = rows(model2.transformDf(late, "vec_id", "embedding"))
    val lateGot = rows(m.liveCodes.join(late.select("vec_id"),
      Seq("vec_id"), "left_semi"))
    assert(lateGot === lateWant, "post-refit batch used the stale model")
    // the commit after the refit drops the superseded logs and model
    Seq("codes_delta", "codes", "bounds").foreach(d =>
      assert(!graft.LsmTestKit.exists(s"$dir/idx/$d"), s"superseded $d kept"))
    // in-distribution vs the refreshed stats: the run stays clean
    assert(m.driftBreaches === 0,
      "post-refit in-distribution batch extended the breach run")

    // 7. re-certify: the refit index meets the recall target through
    // the sweep (the re-tune step, via the maintainer's serving view)
    val refitIdx = new graft.ann.sq.SqIndex(model2, m.liveCodes)
    val served = corpus.unionByName(late)
    val q = served.orderBy("vec_id").limit(20)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val sweep = AutoTune.sweepSqRerankDepth(refitIdx, q, served, 5,
      Seq(5, 10, 25), 0.95).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(3)))
    val chosen = sweep.find(_._3).get
    assert(chosen._2 >= 0.95, s"refit index misses the target: ${sweep.toSeq}")
  }

  test("LSH store: refitDue fires on sustained drift and refitNow resets it") {
    val fit = mkVecs(1200, seed = 17)
    val dir = java.nio.file.Files.createTempDirectory("refit_lsh").toString
    DriftCheck.writeFitStats(fit, s"$dir/fit_stats")
    val cfg = graft.ann.lsh.LshConfig(nTrees = 2, kMinVecs = 32, seed = 3L)
    graft.ann.lsh.Lsh.train(fit, "vec_id", "embedding", cfg)
      .save(spark, s"$dir/idx")
    def mk() = new graft.ann.lsh.LshMaintainer(spark, s"$dir/idx",
      compactEvery = 100,
      driftCheck = Some(new DriftCheck(spark, s"$dir/fit_stats")),
      refitAfterBreaches = 2)
    val m = mk()
    m.onBatch(Some(mkVecs(600, seed = 19, shift = 6.0, idBase = 10000)), None)
    m.onBatch(Some(mkVecs(600, seed = 23, shift = 6.0, idBase = 20000)), None)
    assert(m.refitDue && mk().refitDue,
      s"sustained drift must fire refitDue (run ${m.driftBreaches})")
    m.refitNow(cfg)
    DriftCheck.writeFitStats(m.index.vectors, s"$dir/fit_stats")
    assert(!m.refitDue && m.driftBreaches === 0,
      "refitNow must reset the breach run")
    assert(!mk().refitDue, "reset not persistent")
    // the refit store serves every live id (the refitNow contract)
    assert(m.index.vectors.count() === 1200 + 600 + 600)
  }
}
