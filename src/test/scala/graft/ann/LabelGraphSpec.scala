package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.lsh.{Lsh, LshConfig}

/** Filter-aware graph augmentation: [[KnnGraph.fromLshSameLabel]]
  * (same-label k-NN edges from the same LSH bucket join) +
  * [[GraphSearch.labelRing]] (per-label deterministic ring — the
  * backbone duty within each label). Contracts:
  *
  *   - structure: every same-label edge connects equal labels, the
  *     k out-degree cut holds, dists are exact for the metric;
  *   - the ring emits one out-edge per non-singleton member and forms
  *     a single cycle per label (full intra-label reachability);
  *   - the measured point (SCALE.md §filtered ANN): on a corpus where
  *     the plain filtered walk's recall is density-bound, the
  *     augmented graph + filter-aware seeds recover it.
  */
class LabelGraphSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  // 200 clusters x 10 points: a 5%-selective label leaves ~0.5 allowed
  // rows per cluster, the density regime where the plain walk starves
  private def clustered: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(200)(Array.fill(32)(rnd.nextGaussian()))
    (0 until 2000).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("same-label edges: equal labels only, k-cut holds, dists exact") {
    val e = clustered.withColumn("label", pmod($"vec_id", lit(4)))
    val idx = Lsh.train(e, "vec_id", "embedding",
      LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
    val g = KnnGraph.fromLshSameLabel(idx, e, "vec_id", "embedding",
      "label", 4, ExactNN.Cosine)
    val labeled = g
      .join(e.select($"vec_id".as("src"), pmod($"vec_id", lit(4)).as("ls")), "src")
      .join(e.select($"vec_id".as("dst"), pmod($"vec_id", lit(4)).as("ld")), "dst")
    assert(labeled.where($"ls" =!= $"ld").isEmpty, "cross-label edge")
    val maxDeg = g.groupBy("src").count().agg(max("count")).as[Long].head()
    assert(maxDeg <= 4L, s"k-cut violated: $maxDeg")
    // spot-check: stored dist equals the exact cosine distance
    val row = g.limit(1).as[(Long, Long, Double)].head()
    val va = e.where($"vec_id" === row._1).select("embedding")
      .as[Seq[Double]].head()
    val vb = e.where($"vec_id" === row._2).select("embedding")
      .as[Seq[Double]].head()
    val dot = va.zip(vb).map { case (a, b) => a * b }.sum
    val exact = 1.0 - dot / (math.sqrt(va.map(x => x * x).sum) *
      math.sqrt(vb.map(x => x * x).sum))
    assert(math.abs(row._3 - BigDecimal(exact).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
  }

  test("labelRing: one out-edge per member, a single cycle per label") {
    val e = clustered.withColumn("label", pmod($"vec_id", lit(7)))
    val ring = GraphSearch.labelRing(e, "vec_id", "label")
      .as[(Long, Long)].collect()
    val byLabel = ring.groupBy(_._1 % 7)
    assert(ring.length === 2000, "one edge per member (no singletons here)")
    byLabel.foreach { case (lbl, edges) =>
      // same-label endpoints
      assert(edges.forall { case (s, d) => s % 7 === d % 7 })
      // a single cycle: follow it and count distinct nodes
      val next = edges.toMap
      val start = edges.head._1
      var cur = next(start); var steps = 1
      while (cur != start && steps <= edges.length + 1) {
        cur = next(cur); steps += 1
      }
      assert(steps === edges.length,
        s"label $lbl ring is not one cycle ($steps of ${edges.length})")
    }
  }

  test("sparse-label filtered walk: augmentation + filtered seeds recover density-bound recall") {
    val e = clustered.withColumn("label", pmod($"vec_id", lit(20)))
    val allowedPred = $"label" === 3 // 5% — ~0.5 allowed per cluster
    val idx = Lsh.train(e, "vec_id", "embedding",
      LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
    val base = KnnGraph.fromLsh(idx, e, "vec_id", "embedding", 5,
        ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(e, "vec_id"))
      .dropDuplicates("src", "dst")
    val q = e.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val subset = e.where(allowedPred)
    val gt = ExactNN.topK(q, subset, 5, ExactNN.Cosine)
    def recallOf(pred: DataFrame): Double =
      graft.eval.Eval.setPrecisionRecall(
          pred.select($"query_id", $"vec_id"),
          gt.select($"query_id", $"vec_id"))
        .agg(avg("recall")).as[Double].head()
    // plain: unfiltered LSH seeds over the base graph
    val plainSeeds = idx.searchAll(q, 16, Double.MaxValue, ExactNN.Cosine)
      .select($"query_id", $"vec_id".as("node"))
    val plain = recallOf(GraphSearch.beamFrom(base, e, "vec_id",
      "embedding", q, plainSeeds, 5, 16, 4, ExactNN.Cosine,
      allowed = Some(allowedPred)))
    // augmented: same-label edges + per-label ring, seeds restricted
    // to the allowed subset (the walk STARTS navigable)
    val aug = base
      .unionByName(KnnGraph.fromLshSameLabel(idx, e, "vec_id",
        "embedding", "label", 5, ExactNN.Cosine).select($"src", $"dst"))
      .unionByName(GraphSearch.labelRing(e, "vec_id", "label"))
      .dropDuplicates("src", "dst")
    val filteredSeeds = idx.searchAll(q, 16, Double.MaxValue,
        ExactNN.Cosine, allowed = Some(subset.select($"vec_id")))
      .select($"query_id", $"vec_id".as("node"))
    val augmented = recallOf(GraphSearch.beamFrom(aug, e, "vec_id",
      "embedding", q, filteredSeeds, 5, 16, 4, ExactNN.Cosine,
      allowed = Some(allowedPred)))
    assert(augmented >= 0.8,
      s"augmented filtered recall $augmented (plain was $plain)")
    assert(augmented > plain + 0.1,
      s"augmentation did not improve: $plain -> $augmented")
  }

  test("labelAware: one call == the three-call recipe, with and without a base") {
    val e = clustered.withColumn("label", pmod($"vec_id", lit(7)))
    val idx = Lsh.train(e, "vec_id", "embedding",
      LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
    def edges(df: DataFrame): Set[(Long, Long)] =
      df.select($"src", $"dst").as[(Long, Long)].collect().toSet
    val base = KnnGraph.fromLsh(idx, e, "vec_id", "embedding", 5,
        ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(e, "vec_id"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    val manual = base
      .unionByName(KnnGraph.fromLshSameLabel(idx, e, "vec_id",
        "embedding", "label", 5, ExactNN.Cosine).select($"src", $"dst"))
      .unionByName(GraphSearch.labelRing(e, "vec_id", "label"))
      .dropDuplicates("src", "dst")
    assert(edges(KnnGraph.labelAware(idx, e, "vec_id", "embedding",
      "label", 5, ExactNN.Cosine, base = Some(base))) === edges(manual))
    // default base = fromLsh + randomBackbone (the same construction)
    assert(edges(KnnGraph.labelAware(idx, e, "vec_id", "embedding",
      "label", 5, ExactNN.Cosine)) === edges(manual))
  }

  test("starved-LARGE regime (>15%): dispatch can only warn; labelAware construction recovers") {
    // a 20%-selective label: above the auto-exact ceiling, so
    // beamFromFiltered routes walk_starved (warn, serve the walk) —
    // build-time label awareness is the only remediation, which is
    // exactly what q_graph_filtered_labeled certifies at sf with
    // label IN (3, 4) (~22%)
    val e = clustered.withColumn("label", pmod($"vec_id", lit(5)))
      .localCheckpoint()
    val allowedPred = $"label" === 3 // 20% — ~2 allowed per cluster
    val idx = Lsh.train(e, "vec_id", "embedding",
      LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
    val base = KnnGraph.fromLsh(idx, e, "vec_id", "embedding", 5,
        ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(e, "vec_id"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    val q = e.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val plainSeeds = idx.searchAll(q, 16, Double.MaxValue, ExactNN.Cosine)
      .select($"query_id", $"vec_id".as("node"))
    val d = GraphSearch.filteredDecision(base, e, "vec_id", "embedding",
      q, plainSeeds, 5, 16, allowedPred, ExactNN.Cosine)
    assert(d.route === FilteredSearch.WalkStarved, d.toString)
    val subset = e.where(allowedPred)
    val gt = ExactNN.topK(q, subset, 5, ExactNN.Cosine)
    val aug = KnnGraph.labelAware(idx, e, "vec_id", "embedding", "label",
      5, ExactNN.Cosine, base = Some(base))
    val filteredSeeds = idx.searchAll(q, 16, Double.MaxValue,
        ExactNN.Cosine, allowed = Some(subset.select($"vec_id")))
      .select($"query_id", $"vec_id".as("node"))
    val rec = graft.eval.Eval.setPrecisionRecall(
        GraphSearch.beamFrom(aug, e, "vec_id", "embedding", q,
            filteredSeeds, 5, 16, 4, ExactNN.Cosine,
            allowed = Some(allowedPred))
          .select($"query_id", $"vec_id"),
        gt.select($"query_id", $"vec_id"))
      .agg(avg("recall")).as[Double].head()
    assert(rec >= 0.8, s"labelAware starved-large recall $rec")
  }
}
