package graft.ann

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** [[GraphMaintainer.foldNow]] — the scoped store's log-fold compaction
  * — plus the two serving-view invariants the round-13 review flagged.
  * Contracts under test:
  *
  *   - **fold == served-view identity**: after a fold the served view is
  *     EXACTLY the pre-fold view minus rows touching an active
  *     tombstone (their physical delete), now read straight off the
  *     rewritten base with a fresh log generation — no
  *     re-symmetrization, no invented edges;
  *   - a reconstructed maintainer agrees (fence persistent, seq
  *     continues) and its tombstone view is empty;
  *   - the SCHEDULED fold fires from [[GraphMaintainer.onBatch]] every
  *     `compactEvery` batches, right after the due scoped refine;
  *   - delete consolidation holds on an ASYMMETRIC stored graph: the
  *     dead node's in-neighbors join the region through the explicit
  *     reverse hop, so no served edge touches a dead id even when the
  *     OUT-hop expansion alone would miss them;
  *   - a delete→re-insert of a known id does NOT duplicate the revived
  *     id's still-serving rows (the onBatch delta is anti-joined
  *     against the bounded serving slice), in scoped AND full mode.
  */
class GraphScopedFoldSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def mkClustered(n: Int, seed: Int = 23) = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      val c = (i % 3).toInt
      val centre = Seq.tabulate(8)(j =>
        new scala.util.Random(c * 97 + j).nextGaussian() * 8)
      (i, centre.map(_ + rng.nextGaussian() * 0.3))
    }
  }

  private def freshTable(name: String): Unit =
    GraphSearch.dropManagedTables(spark,
      s"${name}_edges", s"${name}_swap_edges")

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").as[(Long, Long)].collect().toSet

  private def entriesFor(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    ids.toDF("query_id").crossJoin((0L until 8L).toDF("node"))

  test("foldNow: served-view identity, logs dropped, restart agrees") {
    val existing = mkClustered(120)
    val arriving = (200L until 212L).map { i =>
      val rngA = new scala.util.Random(i * 7 + 1)
      val centre = Seq.tabulate(8)(j =>
        new scala.util.Random(j).nextGaussian() * 8)
      (i, centre.map(_ + rngA.nextGaussian() * 0.3))
    }
    val all = (existing ++ arriving).toDF("vec_id", "embedding")
    val existDf = existing.toDF("vec_id", "embedding")
    freshTable("fold_spec")
    val base = KnnGraph.exact(existDf, "vec_id", "embedding", 4, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(existDf, "vec_id"))
      .dropDuplicates("src", "dst")
    GraphSearch.saveBucketed(base, "fold_spec")
    val lsm = java.nio.file.Files.createTempDirectory("fold_lsm").toString
    def mk() = new GraphMaintainer(spark, "fold_spec", lsm,
      "vec_id", "embedding", k = 4, beamWidth = 8, hops = 3,
      refineEvery = 100, maxReverseDegree = 3,
      scopedRefine = true, scopeHops = 1)
    val m = mk()

    // one batch (inserts + deletes), one scoped refine — the fold's
    // precondition (window deletes consolidated) holds
    val dead = Seq(1L, 4L)
    m.onBatch(all, arriving.toDF("vec_id", "embedding"),
      entriesFor(arriving.map(_._1).take(12)), Some(dead.toDF("vec_id")))
    m.refineScopedNow(all).count()
    // a second delete batch, NOT yet refined: its tombstone is active
    // at fold time — foldNow must apply it physically
    val dead2 = Seq(10L)
    m.onBatch(all, all.limit(0), entriesFor(Nil),
      Some(dead2.toDF("vec_id")))
    m.refineScopedNow(all).count()

    val servedBefore = edgeSet(m.servingEdges)
    val pending = m.tombstones.as[Long].collect().toSet
    assert(pending.isEmpty || pending.subsetOf((dead ++ dead2).toSet))

    m.foldNow()

    val servedAfter = edgeSet(m.servingEdges)
    val expected = servedBefore.filterNot { case (s, d) =>
      pending(s) || pending(d)
    }
    // (a) identity: the fold preserved the served view exactly, modulo
    // the physical tombstone application
    assert(servedAfter === expected, "fold changed the served view")
    // (b) the view now IS the base table (no log legs)
    assert(edgeSet(GraphSearch.loadBucketed(spark, "fold_spec")) ===
      servedAfter, "post-fold base table differs from the served view")
    // (c) logs dropped: no active tombstones, no delta/supersede rows
    assert(m.tombstones.isEmpty, "tombstones survived the fold")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(lsm).toUri,
      spark.sparkContext.hadoopConfiguration)
    // the fold's manifest serves a fresh log generation
    val folded = graft.LsmTestKit.manifest(spark, lsm)
    Seq("edges_delta", "superseded", "tombstones", "arrivals").foreach {
      sub => assert(!fs.exists(new org.apache.hadoop.fs.Path(folded.log(sub))),
        s"log dir $sub survived the fold")
    }
    // (d) restart: fence persistent, view identical, seq continues
    val m2 = mk()
    assert(edgeSet(m2.servingEdges) === servedAfter)
    assert(m2.batchesSeen === m.batchesSeen,
      s"seq regressed across restart: ${m2.batchesSeen} vs ${m.batchesSeen}")
  }

  test("scheduled fold fires from onBatch at the compactEvery cadence") {
    val existing = mkClustered(90, seed = 31)
    val arriving = (300L until 324L).map { i =>
      val rngA = new scala.util.Random(i * 11 + 5)
      val centre = Seq.tabulate(8)(j =>
        new scala.util.Random(j).nextGaussian() * 8)
      (i, centre.map(_ + rngA.nextGaussian() * 0.3))
    }
    val all = (existing ++ arriving).toDF("vec_id", "embedding")
    val existDf = existing.toDF("vec_id", "embedding")
    freshTable("fold_sched_spec")
    val base = KnnGraph.exact(existDf, "vec_id", "embedding", 4, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(existDf, "vec_id"))
      .dropDuplicates("src", "dst")
    GraphSearch.saveBucketed(base, "fold_sched_spec")
    val lsm = java.nio.file.Files.createTempDirectory("fold_sched_lsm").toString
    // refine every 2nd seq, fold once 5 seqs have passed since the
    // last fold — batch 3 reaches the fold cadence first (seq 5), so
    // the EARLY consolidating refine + fold fire there
    val m = new GraphMaintainer(spark, "fold_sched_spec", lsm,
      "vec_id", "embedding", k = 4, beamWidth = 8, hops = 3,
      refineEvery = 2, maxReverseDegree = 3,
      scopedRefine = true, scopeHops = 1, compactEvery = 5)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(lsm).toUri,
      spark.sparkContext.hadoopConfiguration)
    // the served snapshot's delta log
    def hasDelta = fs.exists(new org.apache.hadoop.fs.Path(
      graft.LsmTestKit.manifest(spark, lsm).log("edges_delta")))
    var folded = false
    arriving.grouped(6).zipWithIndex.foreach { case (split, i) =>
      val batchDf = split.toDF("vec_id", "embedding")
      val servedPre = edgeSet(m.servingEdges)
      val due = m.foldDue
      m.onBatch(all, batchDf, entriesFor(split.map(_._1)))
      if (due) {
        folded = true
        assert(!hasDelta, s"batch $i: foldDue but logs survived onBatch")
        // every arrival so far is in the folded base
        val baseNow = edgeSet(GraphSearch.loadBucketed(spark,
          "fold_sched_spec"))
        assert(edgeSet(m.servingEdges) === baseNow)
        split.foreach { case (id, _) =>
          assert(baseNow.exists(_._1 == id), s"arrival $id lost by fold")
        }
        assert(servedPre.nonEmpty)
      }
    }
    assert(folded, "the scheduled fold never fired")
  }

  test("fold cadence is NOT quantized by the refine cadence (compactEvery < refineEvery)") {
    // the round-14 review finding: with the fold check nested under
    // the due-refine branch, refineEvery = 100 would let the logs grow
    // for ~100 batches no matter what compactEvery says — the early
    // consolidating-refine + fold path must hold the compactEvery
    // bound on its own
    val existing = mkClustered(60, seed = 53)
    val arriving = (400L until 424L).map { i =>
      val rngA = new scala.util.Random(i * 13 + 3)
      val centre = Seq.tabulate(8)(j =>
        new scala.util.Random(j).nextGaussian() * 8)
      (i, centre.map(_ + rngA.nextGaussian() * 0.3))
    }
    val all = (existing ++ arriving).toDF("vec_id", "embedding")
    val existDf = existing.toDF("vec_id", "embedding")
    freshTable("fold_unq_spec")
    val base = KnnGraph.exact(existDf, "vec_id", "embedding", 4, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(existDf, "vec_id"))
      .dropDuplicates("src", "dst")
    GraphSearch.saveBucketed(base, "fold_unq_spec")
    val lsm = java.nio.file.Files.createTempDirectory("fold_unq_lsm").toString
    val m = new GraphMaintainer(spark, "fold_unq_spec", lsm,
      "vec_id", "embedding", k = 4, beamWidth = 8, hops = 3,
      refineEvery = 100, maxReverseDegree = 3,
      scopedRefine = true, scopeHops = 1, compactEvery = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(lsm).toUri,
      spark.sparkContext.hadoopConfiguration)
    var folds = 0
    arriving.grouped(6).zipWithIndex.foreach { case (split, i) =>
      val due = m.foldDue
      val batchDf = split.toDF("vec_id", "embedding")
      m.onBatch(all, batchDf, entriesFor(split.map(_._1)))
      if (due) {
        folds += 1
        assert(!fs.exists(new org.apache.hadoop.fs.Path(
            graft.LsmTestKit.manifest(spark, lsm).log("edges_delta"))),
          s"batch $i: foldDue but logs survived (fold quantized to " +
            "the refine cadence)")
        // the early refine consolidated + the fold applied: arrivals
        // are in the base
        val baseNow = edgeSet(GraphSearch.loadBucketed(spark,
          "fold_unq_spec"))
        split.foreach { case (id, _) =>
          assert(baseNow.exists(_._1 == id), s"arrival $id lost by fold")
        }
      }
    }
    assert(folds >= 2,
      s"compactEvery=3 over 4 batches must fold at least twice ($folds)")
  }

  test("asymmetric graph: delete consolidation reaches the dead node's in-neighbors") {
    // a DIRECTED base: u→d exists with NO return d→u — the OUT-hop
    // region expansion from the tombstone seed d cannot reach u
    freshTable("fold_asym_spec")
    val vecs = mkClustered(40, seed = 47)
    val all = vecs.toDF("vec_id", "embedding")
    val directed = KnnGraph.exact(all, "vec_id", "embedding", 3,
        ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(all, "vec_id"))
      .dropDuplicates("src", "dst")
    // write WITHOUT saveBucketed's symmetrization
    spark.sql("DROP TABLE IF EXISTS fold_asym_spec_edges")
    directed.write.mode("overwrite")
      .bucketBy(8, "src").sortBy("src")
      .saveAsTable("fold_asym_spec_edges")
    val dead = 7L
    val inNbrs = edgeSet(spark.table("fold_asym_spec_edges"))
      .collect { case (s, d) if d == dead && s != dead => s }
    val asymIn = inNbrs.filterNot(u =>
      edgeSet(spark.table("fold_asym_spec_edges")).contains((dead, u)))
    assert(asymIn.nonEmpty,
      "test graph has no asymmetric in-neighbor of the dead node")
    val lsm = java.nio.file.Files.createTempDirectory("fold_asym_lsm").toString
    val m = new GraphMaintainer(spark, "fold_asym_spec", lsm,
      "vec_id", "embedding", k = 3, beamWidth = 8, hops = 3,
      refineEvery = 100, maxReverseDegree = 3,
      scopedRefine = true, scopeHops = 1, nBuckets = 8)
    m.onBatch(all, all.limit(0), entriesFor(Nil),
      Some(Seq(dead).toDF("vec_id")))
    m.refineScopedNow(all).count()
    val served = edgeSet(m.servingEdges)
    assert(!served.exists { case (s, d) => s == dead || d == dead },
      "an edge touching the dead node survived the scoped refine " +
        "(in-neighbor escaped the region)")
  }

  test("delete→re-insert does not duplicate the revived id's serving rows") {
    Seq(true, false).foreach { scoped =>
      val name = s"fold_revive_${scoped}_spec"
      freshTable(name)
      val vecs = mkClustered(50, seed = 61)
      val all = vecs.toDF("vec_id", "embedding")
      val base = KnnGraph.exact(all, "vec_id", "embedding", 3,
          ExactNN.Cosine)
        .select($"src", $"dst")
        .unionByName(GraphSearch.randomBackbone(all, "vec_id"))
        .dropDuplicates("src", "dst")
      GraphSearch.saveBucketed(base, name, nBuckets = 8)
      val lsm = java.nio.file.Files
        .createTempDirectory(s"fold_revive_$scoped").toString
      val m = new GraphMaintainer(spark, name, lsm,
        "vec_id", "embedding", k = 3, beamWidth = 8, hops = 3,
        refineEvery = 100, maxReverseDegree = 3,
        scopedRefine = scoped, scopeHops = 1, nBuckets = 8)
      val x = 5L
      // delete x (no refine — its rows keep serving, excluded at
      // walk time), then re-insert it: the walk re-derives edges its
      // un-superseded rows already carry
      m.onBatch(all, all.limit(0), entriesFor(Nil),
        Some(Seq(x).toDF("vec_id")))
      val xv = vecs.find(_._1 == x).get
      m.onBatch(all, Seq(xv).toDF("vec_id", "embedding"), entriesFor(Seq(x)))
      val servingRows = m.servingEdges.select("src", "dst")
      assert(servingRows.count() ===
        servingRows.distinct().count(),
        s"scoped=$scoped: delete→re-insert produced duplicate serving rows")
      // and the revived id is served
      assert(m.tombstones.isEmpty, s"scoped=$scoped: revival failed")
    }
  }
}
