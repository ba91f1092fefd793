package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.{CodesMaintainer, DriftCheck, ExactNN, GraphMaintainer,
  GraphSearch, KnnGraph}
import graft.retrieval.PostingsStore
import graft.text.{Dedup, DedupGate}

/** The composed-lifecycle SOAK (round 16, verdict #3): scheduled
  * maintenance has to fire INSIDE the composition, not just in each
  * store's isolated spec — a gate compaction between two pipeline
  * batches, the graph fold mid-stream, compactions on every flat
  * store, and a drift-refit breach run, all driven by
  * [[IngestPipeline.onBatch]] alone. Contracts:
  *
  *   - the GraphScopedFoldSpec identity applied PIPELINE-WIDE: a
  *     tight-cadence run (compactions + folds firing repeatedly) ends
  *     with every store's SERVED view row-identical to a loose-cadence
  *     twin that never compacted — physical maintenance may reorganize
  *     bytes, never answers. The graph's logical refine runs at the
  *     same cadence in both twins (refine changes edges by design; the
  *     identity under test is fold/compaction only);
  *   - the maintenance really fired: the tight twin's LSM log dirs are
  *     dropped by the compaction commit while the loose twin's are
  *     still on disk;
  *   - the labeled store (sixth leg, round 17) holds the same row
  *     identity across the twins, and its compaction REFRESHED the
  *     centroid sidecar: the tight twin's persisted sidecar equals a
  *     fresh recompute over the live tables (the staleness-cadence
  *     contract observed through the composition);
  *   - a sustained drift breach observed THROUGH the pipeline flips
  *     `codes.refitDue`, and `refitAndSwap` mid-composition preserves
  *     the codes store's membership exactly (same live ids, new
  *     geometry) and resets the breach run.
  */
class IngestPipelineSoakSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private val cfg = Dedup.MinHashConfig(shingleN = 3, numHashes = 8,
    bandRows = 2, jaccardThreshold = 0.5, maxDocFreqRatio = 1.0)

  private def baseText(i: Long) =
    s"base doc $i carries tokens t${i}a t${i}b t${i}c t${i}d"

  private def freshText(i: Long) =
    s"fresh arrival $i tokens f${i}a f${i}b f${i}c f${i}d f${i}e"

  private def vecOf(i: Long, shift: Double = 0.0): Seq[Double] = {
    val r = new scala.util.Random(i * 7 + 1)
    Seq.fill(8)(r.nextGaussian() + shift)
  }

  private def baseDocs: DataFrame =
    (0L until 40L).map(i => (i, baseText(i), vecOf(i)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("label", pmod(col("doc_id"), lit(3)).cast("string"))

  // batch k (k = 0..5): three fresh arrivals, one near-dup of stored
  // doc k (rejected — its anchor stays stored), one delete of stored
  // doc 30+k (disjoint from the anchors)
  private def arrivalIds(k: Int): Seq[Long] =
    (0 until 3).map(j => 200L + 3 * k + j)

  private def arrivalsOf(k: Int, shift: Double = 0.0): DataFrame =
    (arrivalIds(k).map(i => (i, freshText(i), vecOf(i, shift))) :+
        ((300L + k).toLong, baseText(k), vecOf(300L + k, shift)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("label", pmod(col("doc_id"), lit(3)).cast("string"))

  private def deletesOf(k: Int): Option[DataFrame] =
    Some(Seq(30L + k).toDF("doc_id"))

  // the pipeline's `vectors` contract (IngestPipeline scaladoc): the
  // LIVE corpus view — prior rejections never entered, and DELETED ids
  // must drop out, or a scheduled refine (which rebuilds backbone
  // edges for every basis row) would re-link a dead node
  private def vectorsFor(admittedSoFar: Seq[Long], currentIds: Seq[Long],
                         deletedSoFar: Seq[Long] = Nil,
                         shiftedFrom: Long = Long.MaxValue): DataFrame =
    ((0L until 40L) ++ admittedSoFar ++ currentIds)
      .filterNot(deletedSoFar.contains)
      .distinct.sorted
      .map(i => (i, vecOf(i, if (i >= shiftedFrom) 5.0 else 0.0)))
      .toDF("vec_id", "embedding")

  /** Six stores + pipeline under `tag` with the given cadences. */
  private def build(tag: String, compactEvery: Int, foldEvery: Int,
                    refineEvery: Int, withDrift: Boolean)
      : (IngestPipeline, DedupGate, PostingsStore, CodesMaintainer,
         GraphMaintainer, graft.ann.lsh.LshMaintainer,
         graft.ann.lsh.LabeledLshMaintainer, String) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"soak_$tag").toString
    val gate = DedupGate.build(spark, s"$root/gate", baseDocs,
      cfg = cfg, compactEvery = compactEvery)
    val postings = PostingsStore.build(spark, s"$root/postings",
      baseDocs.select($"doc_id", $"toks"), compactEvery = compactEvery)
    val baseVecs = baseDocs.select($"doc_id".as("vec_id"), $"embedding")
    val sq = graft.ann.sq.Sq.train(baseVecs, "vec_id", "embedding")
    sq.save(spark, s"$root/codes")
    val drift =
      if (!withDrift) None
      else {
        DriftCheck.writeFitStats(baseVecs, s"$root/codes_fit_stats")
        Some(new DriftCheck(spark, s"$root/codes_fit_stats",
          shiftWatermark = 3.0, ratioWatermark = 100.0))
      }
    val codes = new CodesMaintainer(spark, s"$root/codes",
      encode = a => sq.model.transformDf(a, "vec_id", "embedding"),
      compactEvery = compactEvery, driftCheck = drift,
      refitAfterBreaches = 2)
    val lshIdx = graft.ann.lsh.Lsh.train(baseVecs, "vec_id", "embedding",
      graft.ann.lsh.LshConfig(nTrees = 3, kMinVecs = 8, seed = 7L))
    lshIdx.save(spark, s"$root/forest")
    val forest = new graft.ann.lsh.LshMaintainer(spark, s"$root/forest",
      compactEvery = compactEvery)
    lshIdx.withLabels(baseDocs.select($"doc_id".as("vec_id"), $"label"))
      .save(spark, s"$root/labeled")
    val labeled = new graft.ann.lsh.LabeledLshMaintainer(spark,
      s"$root/labeled", compactEvery = compactEvery)
    val name = s"soak_${tag}_graph"
    GraphSearch.dropManagedTables(spark, s"${name}_edges",
      s"${name}_swap_edges")
    val g = KnnGraph.exact(baseVecs, "vec_id", "embedding", 3,
        ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(baseVecs, "vec_id"))
      .dropDuplicates("src", "dst")
    GraphSearch.saveBucketed(g, name)
    val graph = new GraphMaintainer(spark, name, s"$root/graph",
      "vec_id", "embedding", k = 3, beamWidth = 8, hops = 2,
      refineEvery = refineEvery, maxReverseDegree = 2,
      compactEvery = foldEvery)
    val pipeline = new IngestPipeline(gate, postings, codes, graph,
      entriesFor = nv => nv.select($"vec_id".as("query_id"))
        .crossJoin((0L until 8L).toDF("node")),
      lsh = Some(forest), labeledLsh = Some(labeled))
    (pipeline, gate, postings, codes, graph, forest, labeled, root)
  }

  private def labeledSet(m: graft.ann.lsh.LabeledLshMaintainer)
      : Set[(Long, String, Int, Long)] =
    m.index.labeledBuckets.select($"vec_id", $"label", $"tree_id", $"hash")
      .as[(Long, String, Int, Long)].collect().toSet

  private def bandsSet(g: DedupGate): Set[(Long, Int, String)] =
    g.servingBands.select($"doc_id", $"band", $"bkey")
      .as[(Long, Int, String)].collect().toSet

  private def postingsSet(p: PostingsStore): Set[(Long, Long)] =
    p.liveDocs.select($"doc_id", $"dl".cast("long"))
      .as[(Long, Long)].collect().toSet

  private def sparseSet(p: PostingsStore): Set[(Long, String, Double)] =
    p.sparse.select($"doc_id", $"term", round($"w", 6))
      .as[(Long, String, Double)].collect().toSet

  private def codesSet(c: CodesMaintainer): Set[(Long, Seq[Int])] =
    c.liveCodes.select($"vec_id", $"codes".cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toSet

  private def forestSet(m: graft.ann.lsh.LshMaintainer)
      : Set[(Long, Int, Long)] =
    m.index.buckets.select($"vec_id", $"tree_id", $"hash")
      .as[(Long, Int, Long)].collect().toSet

  private def edgesSet(g: GraphMaintainer): Set[(Long, Long)] =
    g.servingEdges.select($"src", $"dst")
      .as[(Long, Long)].collect().toSet

  private def dirExists(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    org.apache.hadoop.fs.FileSystem.get(path.toUri,
      spark.sparkContext.hadoopConfiguration).exists(path)
  }

  test("soak across the cadences: tight-maintenance end state == loose twin, store for store") {
    // tight: every flat store compacts every 2 batches, the graph
    // folds every 3 and refines every 2 — over 6 batches each cadence
    // fires at least twice INSIDE the composition. loose: identical
    // logical schedule (refineEvery = 2) but no compaction/fold fires.
    val (tp, tGate, tPost, tCodes, tGraph, tForest, tLab, tRoot) =
      build("tight", compactEvery = 2, foldEvery = 3, refineEvery = 2,
        withDrift = true)
    val (lp, lGate, lPost, lCodes, lGraph, lForest, lLab, lRoot) =
      build("loose", compactEvery = 100, foldEvery = 100, refineEvery = 2,
        withDrift = false)

    def run(p: IngestPipeline): Seq[Long] = {
      var admitted = Seq.empty[Long]
      for (k <- 0 until 6) {
        // deletedSoFar excludes THIS batch's delete: the delete rides
        // the same onBatch call, and the same-batch vectors view still
        // carries the doomed id (the caller can't know the outcome yet)
        val rep = p.onBatch(arrivalsOf(k),
          vectorsFor(admitted, arrivalIds(k) :+ (300L + k),
            deletedSoFar = (0 until k).map(30L + _)),
          deletesOf(k))
        val admIds = rep.admittedRows.select($"doc_id")
          .as[Long].collect().toSeq
        assert(admIds.toSet === arrivalIds(k).toSet,
          s"batch $k admitted $admIds")
        admitted ++= admIds
      }
      admitted
    }
    val tAdmitted = run(tp)
    val lAdmitted = run(lp)
    assert(tAdmitted === lAdmitted)

    // served views identical across all five stores — compaction and
    // fold changed bytes, never answers
    assert(bandsSet(tGate) === bandsSet(lGate), "band index diverged")
    assert(postingsSet(tPost) === postingsSet(lPost), "postings diverged")
    // the sparse VIEW is the one documented exception to physical-only:
    // the postings compaction bundles the O(drift) stats merge-refit
    // (PostingsStore class doc — "a compacted store's stats always
    // describe its live corpus"), while the loose twin's stale fence
    // leaves every arrival's terms OOV (under-scoring, never
    // over-scoring — the documented degradation). So the loose view
    // must be a SUBSET of the tight membership, and the tight weights
    // must equal a FRESH build over the same live corpus — the
    // strongest form of "the folded stats describe exactly the live
    // docs".
    assert(sparseSet(lPost).map(t => (t._1, t._2))
        .subsetOf(sparseSet(tPost).map(t => (t._1, t._2))),
      "stale-fence sparse view scored terms the folded view does not")
    val liveCorpus =
      ((0L until 40L).filterNot(i => i >= 30L && i <= 35L)
          .map(i => (i, baseText(i))) ++
        tAdmitted.map(i => (i, freshText(i))))
        .toDF("doc_id", "text")
        .withColumn("toks", split(trim($"text"), "\\s+"))
        .select($"doc_id", $"toks")
    val freshPost = PostingsStore.build(spark,
      java.nio.file.Files.createTempDirectory("soak_fresh").toString +
        "/postings", liveCorpus)
    assert(sparseSet(tPost) === sparseSet(freshPost),
      "compacted stats do not describe the live corpus")
    assert(codesSet(tCodes) === codesSet(lCodes), "codes diverged")
    assert(forestSet(tForest) === forestSet(lForest), "forest diverged")
    // the labeled store's ROW identity matches (membership); its
    // SIDECAR legitimately differs — the tight twin's compactions
    // refreshed it (the staleness-cadence contract), so assert the
    // tight sidecar equals a fresh recompute over the live tables
    // while the loose one is still the base fit's
    assert(labeledSet(tLab) === labeledSet(lLab), "labeled store diverged")
    val tIdx = tLab.index
    val freshSidecar = tIdx.refreshCentroids().bucketCentroids
    assert(tIdx.bucketCentroids.exceptAll(freshSidecar).isEmpty &&
        freshSidecar.exceptAll(tIdx.bucketCentroids).isEmpty,
      "tight twin's compacted sidecar is not the live recompute")
    assert(edgesSet(tGraph) === edgesSet(lGraph), "graph diverged")

    // the maintenance really fired: the tight twin's compaction commit
    // dropped the LSM logs; the loose twin's are still on disk
    for (sub <- Seq("gate/bands_delta", "postings/tfs_delta",
        "codes/codes_delta", "forest/hashed_delta",
        "labeled/hashed_delta")) {
      assert(dirExists(s"$lRoot/$sub"), s"loose twin never logged $sub")
    }
    assert(!dirExists(s"$tRoot/gate/bands_delta"),
      "tight gate never compacted")
    assert(!dirExists(s"$tRoot/labeled/hashed_delta"),
      "tight labeled store never compacted")
    assert(!dirExists(s"$tRoot/postings/tfs_delta"),
      "tight postings never compacted")
    assert(!dirExists(s"$tRoot/codes/codes_delta"),
      "tight codes never compacted")
    assert(!dirExists(s"$tRoot/forest/hashed_delta"),
      "tight forest never compacted")
    assert(!dirExists(s"$tRoot/graph/edges_delta"),
      "tight graph never folded")

    // a deleted doc is gone from every served view (batch-5 delete is
    // the most recent; batches 0..3's deletes crossed refines/folds)
    for (id <- Seq(30L, 31L, 32L, 33L)) {
      assert(!bandsSet(tGate).exists(_._1 == id), s"deleted $id in bands")
      assert(!postingsSet(tPost).exists(_._1 == id))
      assert(!codesSet(tCodes).exists(_._1 == id))
      assert(!forestSet(tForest).exists(_._1 == id))
      assert(!labeledSet(tLab).exists(_._1 == id),
        s"deleted $id still in the labeled store")
      assert(!edgesSet(tGraph).exists(_._1 == id),
        s"deleted $id still serving in the graph after refines")
    }

    // ---- drift-refit breach INSIDE the composition ----
    // two more batches whose arrivals are shifted +5 sigma: the codes
    // drift check (watermark 3 MADs, refitAfterBreaches = 2) must
    // breach on both and flip refitDue — observed purely through
    // pipeline batches
    assert(!tCodes.refitDue)
    var admitted = tAdmitted
    val deleted = (0 until 6).map(30L + _)
    for (k <- 6 until 8) {
      val ids = arrivalIds(k)
      val rep = tp.onBatch(arrivalsOf(k, shift = 5.0),
        vectorsFor(admitted, ids :+ (300L + k), deletedSoFar = deleted,
          shiftedFrom = 218L),
        deletes = None)
      admitted ++= rep.admittedRows.select($"doc_id").as[Long].collect()
      assert(tCodes.lastDrift.exists(_._1 > 3.0),
        s"batch $k drift not observed: ${tCodes.lastDrift}")
    }
    assert(tCodes.refitDue,
      "two consecutive breached batches must flip refitDue")

    // refit mid-composition: new model, SAME membership, breach reset
    val before = codesSet(tCodes).map(_._1)
    val liveVecs = vectorsFor(admitted, Nil, deletedSoFar = deleted,
      shiftedFrom = 218L)
    val sq2 = graft.ann.sq.Sq.train(
      liveVecs.join(tCodes.liveCodes.select("vec_id"), Seq("vec_id"),
        "left_semi"), "vec_id", "embedding")
    tCodes.refitAndSwap(liveVecs,
      a => sq2.model.transformDf(a, "vec_id", "embedding"))
    assert(codesSet(tCodes).map(_._1) === before,
      "refit changed codes membership")
    assert(!tCodes.refitDue, "refit did not reset the breach run")
  }
}
