package graft.ann

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ivf.{Ivf, IvfConfig}
import graft.ann.lsh.{Lsh, LshConfig}

/** Recall-targeted operating-point selection (AutoTune). Contract:
  *
  *   - one output row per arm, ascending, each arm's recall graded vs
  *     the exact ground truth on the validation sample;
  *   - recall is monotone non-decreasing in the knob (more cells / more
  *     trees probed = superset candidates = GT hits can only appear);
  *   - `chosen` marks exactly one arm: the CHEAPEST meeting the target,
  *     or the last arm when none does (best-available fallback);
  *   - the top arm (all cells / all trees probed) is exact — recall 1.0
  *     — so a reachable target always yields a chosen arm;
  *   - `withNProbe`/`withTrees` are pure search-time views: stored
  *     tables untouched, original index unchanged by the sweep.
  */
class AutoTuneSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  // clustered corpus: 40 clusters x 5 points, cluster spread << gap, so
  // nProbe=1 misses cross-cell GT neighbors but full probe is exact
  private def mkCorpus(n: Int = 200, seed: Int = 5) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val c = i % 40
      val centre = Seq.tabulate(6)(j =>
        new scala.util.Random(c * 31 + j).nextGaussian() * 10)
      (i.toLong, centre.map(_ + rng.nextGaussian() * 0.3))
    }.toDF("vec_id", "embedding")
  }

  private def queriesOf(corpus: org.apache.spark.sql.DataFrame, n: Int) =
    corpus.orderBy("vec_id").limit(n)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def armRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("arm").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))

  test("IVF nProbe sweep: monotone recall, exact top arm, cheapest-meeting chosen") {
    val corpus = mkCorpus()
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 20)
    val res = armRows(AutoTune.sweepIvfNProbe(idx, q, 5,
      Seq(1, 2, 4, 8), targetRecall = 0.95))
    assert(res.map(_._1).toSeq === Seq(1, 2, 4, 8))
    assert(res.forall(_._3 === 20L))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: ${recalls.toSeq}")
    // nProbe = nCells probes every cell == exact search
    assert(recalls.last === 1.0)

    // shared-scan form: identical graded rows AND identical per-arm
    // prediction sets (probe ordering is deterministic by (dist, cell)
    // and each vector has exactly one cell, so rank-filtering the max
    // arm's scored scan IS each smaller arm's search)
    val perArmPreds = scala.collection.mutable.Map[Int, Seq[String]]()
    val sharedPreds = scala.collection.mutable.Map[Int, Seq[String]]()
    def capture(into: scala.collection.mutable.Map[Int, Seq[String]])
        : (Int, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (a, df) => {
        into(a) = df.orderBy("query_id", "dist", "vec_id")
          .collect().map(_.toString).toSeq
        df
      }
    val perArm = armRows(AutoTune.sweepIvfNProbe(idx, q, 5,
      Seq(1, 2, 4, 8), targetRecall = 0.95, dumpArm = capture(perArmPreds)))
    val shared = armRows(AutoTune.sweepIvfNProbeShared(idx, q, 5,
      Seq(1, 2, 4, 8), targetRecall = 0.95, dumpArm = capture(sharedPreds)))
    assert(shared.toSeq === perArm.toSeq)
    Seq(1, 2, 4, 8).foreach { a =>
      assert(sharedPreds(a) === perArmPreds(a), s"arm $a predictions differ")
    }
    val chosen = res.filter(_._4)
    assert(chosen.length === 1)
    val firstMeeting = res.find(_._2 >= 0.95).get._1
    assert(chosen.head._1 === firstMeeting)
    // arms below the chosen one all miss the target
    assert(res.takeWhile(_._1 < chosen.head._1).forall(_._2 < 0.95))
  }

  test("unreachable target falls back to the last (best-available) arm") {
    val corpus = mkCorpus()
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 10)
    val res = armRows(AutoTune.sweepIvfNProbe(idx, q, 5,
      Seq(1, 2), targetRecall = 2.0)) // > 1, unreachable by construction
    assert(res.count(_._4) === 1)
    assert(res.find(_._4).get._1 === 2)
  }

  test("LSH trees sweep: monotone recall, chosen meets target, index unchanged") {
    val corpus = mkCorpus()
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 6, kMinVecs = 8, seed = 7L))
    val bucketRowsBefore = idx.buckets.count()
    val q = queriesOf(corpus, 20)
    val res = armRows(AutoTune.sweepLshTrees(idx, q, 5,
      Seq(1, 3, 6), targetRecall = 0.8))
    assert(res.map(_._1).toSeq === Seq(1, 3, 6))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    val chosen = res.filter(_._4)
    assert(chosen.length === 1)
    if (recalls.exists(_ >= 0.8))
      assert(chosen.head._2 >= 0.8)
    // sweep is a pure view: the original forest is untouched
    assert(idx.buckets.count() === bucketRowsBefore)
    assert(idx.model.config.nTrees === 6)
  }

  test("withTrees filters buckets to the retained trees only") {
    val corpus = mkCorpus(60)
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 4, kMinVecs = 8, seed = 7L))
    val thinned = idx.withTrees(2)
    val trees = thinned.buckets.select("tree_id").distinct()
      .as[Int].collect().toSet
    assert(trees.subsetOf(Set(0, 1)))
    assertThrows[IllegalArgumentException](idx.withTrees(0))
    assertThrows[IllegalArgumentException](idx.withTrees(5))
  }

  test("withNProbe bounds-checked and pure") {
    val corpus = mkCorpus(60)
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 2, seed = 42L))
    val re = idx.withNProbe(4)
    assert(re.model.config.nProbe === 4)
    assert(idx.model.config.nProbe === 2)
    assert(re.cells eq idx.cells) // stored tables shared, not copied
    assertThrows[IllegalArgumentException](idx.withNProbe(0))
    assertThrows[IllegalArgumentException](idx.withNProbe(5))
  }

  test("IVF-PQ rerankDepth sweep: monotone recall, deep arm exact under all-probe") {
    val corpus = mkCorpus()
    // all cells probed -> coverage is total, so recall is purely the
    // rerank-depth story and the deepest arm must reach 1.0
    val idx = graft.ann.ivfpq.IvfPq.train(corpus, "vec_id", "embedding",
      graft.ann.ivfpq.IvfPqConfig(nCells = 4, nProbe = 4,
        numSubvectors = 3, codesPerSubvector = 8, seed = 42L))
    val q = queriesOf(corpus, 10)
    val res = armRows(AutoTune.sweepIvfPqRerankDepth(idx, q, corpus, 5,
      Seq(5, 20, 200), targetRecall = 0.95))
    assert(res.map(_._1).toSeq === Seq(5, 20, 200))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.last === 1.0)
    assert(res.count(_._4) === 1)
    assert(res.find(_._4).get._2 >= 0.95)
  }

  test("BQ depth sweep: monotone recall, corpus-depth arm exact, chosen meets target") {
    val corpus = mkCorpus()
    val idx = graft.ann.bq.Bq.train(corpus, "vec_id", "embedding")
    val q = queriesOf(corpus, 10)
    val vecs = corpus.select($"vec_id", $"embedding")
    // depth == corpus size re-ranks EVERYTHING exactly -> recall 1.0
    val res = armRows(AutoTune.sweepBqDepth(idx, q, vecs, 5,
      Seq(5, 25, 200), targetRecall = 0.95))
    assert(res.map(_._1).toSeq === Seq(5, 25, 200))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in depth: ${recalls.toSeq}")
    assert(recalls.last === 1.0)
    assert(res.count(_._4) === 1)
    assert(res.find(_._4).get._2 >= 0.95)
  }

  test("BQ shared-scan arm cut == per-arm searchRerank (the q_autotune_bq_depth form)") {
    // the oracle regrades whatever the query dumps, so shared==per-arm
    // must be pinned HERE: the Hamming ordering is deterministic by
    // (hamming, vec_id), so rank-cutting the max arm's candidates and
    // re-ranking once must equal each arm's own searchRerank row-for-row
    import org.apache.spark.sql.functions._
    val corpus = mkCorpus()
    val idx = graft.ann.bq.Bq.train(corpus, "vec_id", "embedding")
    val q = queriesOf(corpus, 10)
    val vecs = corpus.select($"vec_id", $"embedding")
    val arms = Seq(5, 25, 100)
    val maxArm = arms.max
    val ranked = idx.searchHamming(q, maxArm)
      .groupBy("query_id")
      .agg(TopK.topK(maxArm)($"vec_id", $"hamming".cast("double")).as("nn"))
      .select($"query_id", posexplode($"nn"))
      .select($"query_id", $"pos".as("hrank"), $"col.vec_id".as("vec_id"))
    val scored = ranked.join(vecs, "vec_id")
      .join(broadcast(q), "query_id")
      .select($"query_id", $"vec_id", $"hrank",
        round(ExactNN.L2.dist($"qv", $"embedding"), 6).as("dist"))
      .localCheckpoint()
    arms.foreach { d =>
      val shared = TopK.perQueryTopK(
          scored.where($"hrank" < d).select("query_id", "vec_id", "dist"),
          5)
        .orderBy("query_id", "dist", "vec_id").collect().toSeq
      val perArm = idx.searchRerank(q, vecs, 5, rerankDepth = d)
        .orderBy("query_id", "dist", "vec_id").collect().toSeq
      assert(shared === perArm, s"arm $d shared cut != per-arm searchRerank")
    }
  }

  test("SQ rerankDepth sweep: monotone recall, corpus-depth arm exact") {
    val corpus = mkCorpus()
    val idx = graft.ann.sq.Sq.train(corpus, "vec_id", "embedding")
    val q = queriesOf(corpus, 10)
    val vecs = corpus.select($"vec_id", $"embedding")
    val res = armRows(AutoTune.sweepSqRerankDepth(idx, q, vecs, 5,
      Seq(5, 25, 200), targetRecall = 0.95))
    assert(res.map(_._1).toSeq === Seq(5, 25, 200))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.last === 1.0)
    assert(res.count(_._4) === 1)
    // 8-bit codes rank near-exactly: the depth floor is LOW (the sweep's
    // value here is proving shallow depth suffices, unlike 1-bit BQ)
    assert(res.find(_._4).get._1 <= 25,
      s"SQ depth floor unexpectedly deep: ${res.toSeq}")
  }

  test("recall is graded from the GT side: a no-answer arm scores 0, not skipped") {
    val corpus = mkCorpus()
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 20)
    // arm 1 returns NOTHING (the cheap-arm empty-result failure mode);
    // before GT-side grading its rows vanished from the average and an
    // empty arm could look perfect
    val res = armRows(AutoTune.sweep(Seq(1, 8), q, idx.vectors, 5,
      targetRecall = 0.95,
      searchAt = p =>
        if (p == 1)
          idx.searchAll(q, 5).where(org.apache.spark.sql.functions.lit(false))
        else idx.withNProbe(p).searchAll(q, 5)))
    assert(res.map(_._1).toSeq === Seq(1, 8))
    // the empty arm: recall 0 over the FULL validation count
    assert(res.head._2 === 0.0)
    assert(res.forall(_._3 === 20L))
    // and it is never chosen
    assert(!res.head._4 && res.last._4)
  }

  test("oversized shared sweep falls back to the per-arm path, row-identical") {
    val corpus = mkCorpus()
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 20)
    // the dispatch rule itself
    assert(AutoTune.sharedSweepFits(20, 200, 8, 8, maxSharedRows = 50000000L))
    assert(!AutoTune.sharedSweepFits(20, 200, 8, 8, maxSharedRows = 1L))
    // a deliberately tiny budget forces the per-arm path; output rows
    // (and each arm's predictions, via dumpArm) must be identical
    val perArmPreds = scala.collection.mutable.Map[Int, Seq[String]]()
    val guardPreds = scala.collection.mutable.Map[Int, Seq[String]]()
    def capture(into: scala.collection.mutable.Map[Int, Seq[String]])
        : (Int, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (a, df) => {
        into(a) = df.orderBy("query_id", "dist", "vec_id")
          .collect().map(_.toString).toSeq
        df
      }
    val perArm = armRows(AutoTune.sweepIvfNProbe(idx, q, 5,
      Seq(1, 4, 8), targetRecall = 0.95, dumpArm = capture(perArmPreds)))
    val guarded = armRows(AutoTune.sweepIvfNProbeShared(idx, q, 5,
      Seq(1, 4, 8), targetRecall = 0.95, dumpArm = capture(guardPreds),
      maxSharedRows = 1L))
    assert(guarded.toSeq === perArm.toSeq)
    Seq(1, 4, 8).foreach(a => assert(guardPreds(a) === perArmPreds(a)))
  }

  test("combined shared-preds frame is row-identical per arm to the shared sweep") {
    val corpus = mkCorpus()
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 20)
    val sharedPreds = scala.collection.mutable.Map[Int, Seq[String]]()
    AutoTune.sweepIvfNProbeShared(idx, q, 5, Seq(1, 4, 8), 0.95,
      dumpArm = (a, df) => {
        sharedPreds(a) = df.select("query_id", "vec_id", "dist")
          .orderBy("query_id", "dist", "vec_id")
          .collect().map(_.toString).toSeq
        df
      })
    val combined = AutoTune.ivfNProbeSharedPreds(idx, q, 5, Seq(1, 4, 8))
    Seq(1, 4, 8).foreach { a =>
      val got = combined.where($"arm" === a)
        .select("query_id", "vec_id", "dist")
        .orderBy("query_id", "dist", "vec_id")
        .collect().map(_.toString).toSeq
      assert(got === sharedPreds(a), s"arm $a combined preds differ")
    }
    // grading the combined frame reproduces the sweep rows
    val gt = ExactNN.topK(q, idx.vectors, 5, ExactNN.L2)
      .select("query_id", "vec_id")
    val graded = armRows(AutoTune.gradeArms(Seq(1, 4, 8), combined, gt, 0.95))
    val swept = armRows(AutoTune.sweepIvfNProbeShared(idx, q, 5,
      Seq(1, 4, 8), 0.95))
    assert(graded.toSeq === swept.toSeq)
    // and the combined form honors the same footprint guard,
    // row-identically (independent searches instead of the shared scan)
    val guarded = AutoTune.ivfNProbeSharedPreds(idx, q, 5, Seq(1, 4, 8),
      maxSharedRows = 1L)
    val a = combined.orderBy("arm", "query_id", "dist", "vec_id")
      .collect().map(_.toString).toSeq
    val b = guarded.orderBy("arm", "query_id", "dist", "vec_id")
      .collect().map(_.toString).toSeq
    assert(a === b, "guarded combined preds differ from the shared scan's")
  }

  test("graph beam sweep: wider beams never lose recall here, chosen meets target") {
    val corpus = mkCorpus()
    import org.apache.spark.sql.functions._
    // exact 5-NN graph + a trivial backbone gives the walk something to
    // traverse; entries = first 4 nodes for every query
    val g = KnnGraph.exact(corpus, "vec_id", "embedding", 5, ExactNN.Cosine)
    val q = queriesOf(corpus, 10)
    val entries = q.select($"query_id")
      .crossJoin((0L until 4L).toDF("node"))
    val res = armRows(AutoTune.sweepGraphBeam(
      g.select("src", "dst"), corpus, "vec_id", "embedding", q, entries,
      k = 5, hops = 6, arms = Seq(5, 16, 48), targetRecall = 0.6,
      metric = ExactNN.Cosine))
    assert(res.map(_._1).toSeq === Seq(5, 16, 48))
    assert(res.forall(_._3 === 10L))
    val recalls = res.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"beam recall not monotone on this corpus: ${recalls.toSeq}")
    assert(res.count(_._4) === 1)
    // arms below k are rejected
    assertThrows[IllegalArgumentException](AutoTune.sweepGraphBeam(
      g.select("src", "dst"), corpus, "vec_id", "embedding", q, entries,
      k = 5, hops = 2, arms = Seq(3, 16), targetRecall = 0.6))
  }

  test("sweep rejects unsorted or duplicate arms") {
    val corpus = mkCorpus(60)
    val idx = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 4, nProbe = 2, seed = 42L))
    val q = queriesOf(corpus, 5)
    assertThrows[IllegalArgumentException](
      AutoTune.sweepIvfNProbe(idx, q, 5, Seq(4, 2), 0.9))
    assertThrows[IllegalArgumentException](
      AutoTune.sweepIvfNProbe(idx, q, 5, Seq(2, 2, 4), 0.9))
    assertThrows[IllegalArgumentException](
      AutoTune.sweepIvfNProbe(idx, q, 5, Seq.empty, 0.9))
  }
}
