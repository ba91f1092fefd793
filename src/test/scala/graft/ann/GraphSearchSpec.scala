package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Beam search over a k-NN graph: near-exact recall in the clustered
  * regime, hop monotonicity, the beamWidth >= k guard, plan shape. */
class GraphSearchSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  /** Same clustered corpus as NnDescentSpec (low intrinsic dimension). */
  private def clustered: DataFrame = {
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(50)(Array.fill(64)(rnd.nextGaussian()))
    (0 until 500).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def queriesOf(e: DataFrame, n: Int) =
    e.orderBy("vec_id").limit(n)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def recallOf(pred: DataFrame, gt: DataFrame): Double =
    graft.eval.Eval.setPrecisionRecall(
        pred.select($"query_id", $"vec_id"),
        gt.select($"query_id", $"vec_id"))
      .agg(avg("recall")).as[Double].head()

  test("pure k-NN graph on clustered data is islands: recall collapses to entry coverage") {
    // exact k-NN edges stay inside the 10-point clusters, so the walk
    // can only reach the clusters the entry set touches — the measured
    // disconnection NSW's long links exist to fix
    val e = clustered
    val g = KnnGraph.exact(e, "vec_id", "embedding", 5, ExactNN.Cosine)
    val q = queriesOf(e, 50)
    val pred = GraphSearch.beam(g, e, "vec_id", "embedding", q,
      (0L until 16L).toSeq, 10, 16, 4)
    val gt = ExactNN.topK(q, e, 10, ExactNN.Cosine)
    val recall = recallOf(pred, gt)
    assert(recall < 0.6, s"expected island-limited recall, got $recall")
    assert(recall > 0.2, s"entry clusters should still resolve, got $recall")
  }

  test("random backbone restores near-exact recall on the same clustered corpus") {
    val e = clustered
    val knn = KnnGraph.exact(e, "vec_id", "embedding", 5, ExactNN.Cosine)
    val g = knn.select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(e, "vec_id"))
      .dropDuplicates("src", "dst")
    val q = queriesOf(e, 50)
    val pred = GraphSearch.beam(g, e, "vec_id", "embedding", q,
      (0L until 32L).toSeq, 10, 32, 6)
    val gt = ExactNN.topK(q, e, 10, ExactNN.Cosine)
    val recall = recallOf(pred, gt)
    assert(recall > 0.95, s"backbone beam recall $recall on clustered corpus")
  }

  test("more hops never worsen the per-query best distance") {
    val e = clustered
    val g = KnnGraph.exact(e, "vec_id", "embedding", 5, ExactNN.Cosine)
    val q = queriesOf(e, 30)
    def best(hops: Int) = GraphSearch.beam(g, e, "vec_id", "embedding", q,
        (0L until 8L).toSeq, 5, 8, hops)
      .groupBy("query_id").agg(min("dist").as("d"))
    val j = best(1).withColumnRenamed("d", "d1")
      .join(best(3).withColumnRenamed("d", "d3"), "query_id")
    assert(j.where($"d3" > $"d1").count() === 0L,
      "hop 3 beam lost ground vs hop 1")
  }

  test("beamWidth below k is rejected") {
    val e = clustered
    val g = KnnGraph.exact(e, "vec_id", "embedding", 3, ExactNN.Cosine)
    intercept[IllegalArgumentException] {
      GraphSearch.beam(g, e, "vec_id", "embedding", queriesOf(e, 5),
        Seq(0L), 10, 5, 2)
    }
  }

  test("bucketed pre-symmetrized graph: walk row-identical, no edge-table shuffle") {
    val e = clustered
    val knn = KnnGraph.exact(e, "vec_id", "embedding", 4, ExactNN.Cosine)
    val q = queriesOf(e, 10)
    val entries = q.select($"query_id").crossJoin(
      Seq(0L, 1L, 2L, 3L).toDF("node"))
    spark.sql("DROP TABLE IF EXISTS gs_spec_graph_edges")
    val loc = new java.io.File("target/spark-warehouse/gs_spec_graph_edges")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    GraphSearch.saveBucketed(knn, "gs_spec_graph")
    val stored = GraphSearch.loadBucketed(spark, "gs_spec_graph")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "dist", "vec_id")
        .as[(Long, Long, Double)].collect().toSeq
    val live = rows(GraphSearch.beamFrom(knn, e, "vec_id", "embedding",
      q, entries, 3, 4, 2))
    val reopened = GraphSearch.beamFrom(stored, e, "vec_id", "embedding",
      q, entries, 3, 4, 2, symmetrize = false)
    assert(rows(reopened) === live, "stored-graph walk diverged")
    // a hop join over the stored graph must not shuffle the edge
    // table; over a live graph the per-call symmetrize+dedup Exchange
    // (hashpartitioning on src, dst) IS in the plan — the contrast
    // proves the assertion discriminates
    def hopPlan(g: org.apache.spark.sql.DataFrame, sym: Boolean) =
      entries.withColumnRenamed("node", "src")
        .join(GraphSearch.undirected(g, sym), "src")
        .queryExecution.executedPlan.toString
    assert(hopPlan(knn, true).contains("hashpartitioning(src"),
      "live-graph walk should show the symmetrize shuffle")
    assert(!hopPlan(stored, false).contains("hashpartitioning(src"),
      s"edge-table shuffle in stored-graph walk:\n${hopPlan(stored, false)}")
  }

  test("online insert: new nodes link to true neighbors, degree guard holds, graph serves them") {
    val all = clustered
    val newIds = (480L until 500L).toSet
    val existing = all.where(!$"vec_id".isin(newIds.toSeq: _*))
    val arriving = all.where($"vec_id".isin(newIds.toSeq: _*))
    val base = KnnGraph.exact(existing, "vec_id", "embedding", 5, ExactNN.Cosine)
      .select($"src", $"dst", $"dist")
    val withBackbone = base.select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(existing, "vec_id"))
      .dropDuplicates("src", "dst")
      .join(base, Seq("src", "dst"), "left").na.fill(2.0, Seq("dist"))
      .localCheckpoint()
    val entries = arriving.select($"vec_id".as("query_id"))
      .crossJoin((0L until 32L).toDF("node"))
    val extended = GraphSearch.insert(withBackbone, existing, "vec_id",
      "embedding", arriving, 5, 32, 6, entries)
      .localCheckpoint()

    // 1. inserted nodes' out-edges vs their exact nearest EXISTING nodes
    val gt = ExactNN.topK(
      arriving.select($"vec_id".as("query_id"), $"embedding".as("qv")),
      existing, 5, ExactNN.Cosine)
    val inserted = extended.where($"src".isin(newIds.toSeq: _*))
      .select($"src".as("query_id"), $"dst".as("vec_id"))
    val rec = graft.eval.Eval.setPrecisionRecall(inserted,
        gt.select($"query_id", $"vec_id"))
      .agg(avg("recall")).as[Double].head()
    assert(rec > 0.9, s"inserted-node neighbor recall $rec")

    // 2. degree guard: existing nodes gain at most maxReverseDegree
    // new in-links (reverse edges point existing -> new)
    val revCounts = extended
      .where($"dst".isin(newIds.toSeq: _*) && !$"src".isin(newIds.toSeq: _*))
      .groupBy("src").count().agg(max("count")).as[Long].head()
    assert(revCounts <= 2, s"reverse-degree guard violated: $revCounts")

    // 3. the extended graph SERVES the new content: searching a new
    // node's own vector finds it at rank 1 (dist 0)
    val allVecs = existing.unionByName(arriving)
    val q2 = arriving.limit(5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val served = GraphSearch.beamFrom(extended, allVecs, "vec_id",
        "embedding", q2,
        q2.select($"query_id").crossJoin((0L until 32L).toDF("node")),
        1, 32, 6)
      .as[(Long, Long, Double)].collect()
    served.foreach { case (qid, vid, dist) =>
      assert(vid === qid && dist === 0.0, s"new node $qid not served: ($vid, $dist)")
    }
  }

  test("randomBackbone dense-id path: no Window, no Join — pure projection, row_number-identical") {
    val e = clustered
    val bb = GraphSearch.randomBackbone(e, "vec_id")
    val plan = bb.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"global Window in dense backbone plan:\n$plan")
    assert(!plan.contains("Join"),
      s"rank join in dense backbone plan:\n$plan")
    // semantics preserved: identical edge set to the original
    // row_number-rank form (on dense ids the rank of an id is itself)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"node")
    val idx = e.select($"vec_id".as("node"))
      .withColumn("i", row_number().over(w).cast("long") - 1)
    val old = idx.select($"node".as("src"), $"i",
        explode(sequence(lit(0), lit(1))).as("j"))
      .select($"src", pmod(xxhash64($"i", $"j"), lit(500L)).as("ti"))
      .join(idx.select($"i".as("ti"), $"node".as("dst")), "ti")
      .where($"src" =!= $"dst")
      .select("src", "dst")
    assert(bb.exceptAll(old).isEmpty && old.exceptAll(bb).isEmpty,
      "dense-path backbone diverged from the row_number form")
  }

  test("randomBackbone sparse-id fallback: zipWithIndex rank matches row_number, edges valid") {
    // non-dense ids (10x + 3) force the rank path; it must produce the
    // exact edge set the original global-Window rank produced, without
    // any single-partition sort in the executed form (zipWithIndex)
    val sparse = clustered.select(($"vec_id" * 10 + 3).as("vec_id"),
      $"embedding")
    val bb = GraphSearch.randomBackbone(sparse, "vec_id")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"node")
    val idx = sparse.select($"vec_id".as("node"))
      .withColumn("i", row_number().over(w).cast("long") - 1)
    val old = idx.select($"node".as("src"), $"i",
        explode(sequence(lit(0), lit(1))).as("j"))
      .select($"src", pmod(xxhash64($"i", $"j"), lit(500L)).as("ti"))
      .join(idx.select($"i".as("ti"), $"node".as("dst")), "ti")
      .where($"src" =!= $"dst")
      .select("src", "dst")
    assert(bb.exceptAll(old).isEmpty && old.exceptAll(bb).isEmpty,
      "sparse-path backbone diverged from the row_number form")
    val ids = sparse.select($"vec_id").distinct()
    assert(bb.join(ids, bb("dst") === ids("vec_id"), "left_anti").isEmpty,
      "backbone dst not a real node id")
    bb.unpersist()
  }

  test("beam plan: bounded TopK cuts, no Window") {
    val e = clustered
    val g = KnnGraph.exact(e, "vec_id", "embedding", 3, ExactNN.Cosine)
    val plan = GraphSearch.beam(g, e, "vec_id", "embedding", queriesOf(e, 5),
        Seq(0L, 1L), 3, 4, 1)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"window in beam plan:\n$plan")
  }

  private def backboned(e: DataFrame): DataFrame =
    KnnGraph.exact(e, "vec_id", "embedding", 5, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(e, "vec_id"))
      .dropDuplicates("src", "dst")

  private def entriesOf(q: DataFrame, n: Int) =
    q.select($"query_id").crossJoin((0L until n.toLong).toDF("node"))

  test("filtered walk: only allowed ids served, k delivered, near-exact filtered recall") {
    val e = clustered
    val g = backboned(e)
    val q = queriesOf(e, 50)
    val pred = GraphSearch.beamFrom(g, e, "vec_id", "embedding", q,
      entriesOf(q, 32), 10, 32, 6, ExactNN.Cosine,
      allowed = Some($"vec_id" % 2 === 0))
    assert(pred.where($"vec_id" % 2 =!= 0).isEmpty,
      "disallowed id served")
    val perQuery = pred.groupBy("query_id").count()
      .agg(min("count")).as[Long].head()
    assert(perQuery === 10L,
      s"filtered walk under-delivered k (min $perQuery)")
    val gt = ExactNN.topK(q, e.where($"vec_id" % 2 === 0), 10,
      ExactNN.Cosine)
    val recall = recallOf(pred, gt)
    assert(recall > 0.9, s"filtered walk recall $recall")
  }

  test("filtered walk serves allowed nodes the FINAL beam dropped (the pool, not post-filter)") {
    // 10%-selective predicate: the final beam (width 32, nearest
    // overall) holds ~3 allowed rows per query — post-filtering it
    // cannot deliver k = 10, so this test fails unless the per-hop
    // allowed pool is what serves
    val e = clustered
    val g = backboned(e)
    val q = queriesOf(e, 30)
    val pred = GraphSearch.beamFrom(g, e, "vec_id", "embedding", q,
      entriesOf(q, 32), 10, 32, 6, ExactNN.Cosine,
      allowed = Some($"vec_id" % 10 === 3))
    val perQuery = pred.groupBy("query_id").count()
      .agg(min("count")).as[Long].head()
    assert(perQuery === 10L,
      s"pool under-delivered k at 10% selectivity (min $perQuery)")
    val gt = ExactNN.topK(q, e.where($"vec_id" % 10 === 3), 10,
      ExactNN.Cosine)
    val recall = recallOf(pred, gt)
    assert(recall > 0.8, s"filtered pool recall $recall at 10% selectivity")
  }

  test("a trivially-true filter returns exactly the unfiltered answer") {
    val e = clustered
    val g = backboned(e)
    val q = queriesOf(e, 25)
    def run(allowed: Option[org.apache.spark.sql.Column]) =
      GraphSearch.beamFrom(g, e, "vec_id", "embedding", q,
          entriesOf(q, 32), 10, 32, 6, ExactNN.Cosine, allowed = allowed)
        .select($"query_id", $"vec_id", $"dist")
        .as[(Long, Long, Double)].collect().toSet
    assert(run(Some(lit(true))) === run(None))
  }

  test("beamFromFiltered dispatch: selective predicate binds the exact path (recall 1.0)") {
    val e = clustered
    val g = backboned(e)
    val q = queriesOf(e, 25)
    // 2% allowed (10 of 500) — far under the 5% cutoff
    val pred = GraphSearch.beamFromFiltered(g, e, "vec_id", "embedding", q,
      entriesOf(q, 32), 5, 32, 6, $"vec_id" % 50 === 0, ExactNN.Cosine)
    val gt = ExactNN.topK(q, e.where($"vec_id" % 50 === 0), 5,
      ExactNN.Cosine)
    assert(recallOf(pred, gt) === 1.0)
    // 50% allowed — the walk path binds and still serves only allowed
    val walk = GraphSearch.beamFromFiltered(g, e, "vec_id", "embedding", q,
      entriesOf(q, 32), 10, 32, 6, $"vec_id" % 2 === 0, ExactNN.Cosine)
    assert(walk.where($"vec_id" % 2 =!= 0).isEmpty)
  }

  test("beamFromWidths: each arm row-identical to its own beamFrom walk") {
    // the sweep form's contract: the batched walk's (arm, query) beams
    // evolve exactly as |widths| independent walks — pinned per arm,
    // per row (ids AND dists), on the clustered+backboned corpus where
    // beams genuinely diverge across widths
    val e = clustered
    val g = backboned(e)
    val q = queriesOf(e, 25)
    val entries = entriesOf(q, 16)
    val widths = Seq(10, 16, 32)
    val batched = GraphSearch.beamFromWidths(g, e, "vec_id", "embedding",
      q, entries, 10, widths, 4)
    widths.foreach { w =>
      val solo = GraphSearch.beamFrom(g, e, "vec_id", "embedding", q,
          entries, 10, w, 4)
        .select($"query_id", $"vec_id", $"dist")
        .as[(Long, Long, Double)].collect().toSet
      val arm = batched.where($"arm" === w)
        .select($"query_id", $"vec_id", $"dist")
        .as[(Long, Long, Double)].collect().toSet
      assert(arm === solo, s"arm $w diverged from its solo walk")
    }
    // guards: ascending widths, every width >= k
    intercept[IllegalArgumentException] {
      GraphSearch.beamFromWidths(g, e, "vec_id", "embedding", q, entries,
        10, Seq(32, 16), 4)
    }
    intercept[IllegalArgumentException] {
      GraphSearch.beamFromWidths(g, e, "vec_id", "embedding", q, entries,
        10, Seq(5, 16), 4)
    }
  }
}
