package graft.ann.lsh

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN
import graft.ann.ivf.{Ivf, IvfConfig}

/** Label-partitioned bucket stores ([[LshIndex.withLabels]] /
  * `IvfIndex.withLabels` → `searchAllLabeled`) — the round-17 in-family
  * remediation behind the bucket dispatch's `probe_starved` / bimodal
  * warnings, serving by LABEL-CONDITIONAL centroid ranking (the
  * measured winner over tree-path probe selection — SCALE.md §filtered
  * ANN, round 17). Contracts:
  *
  *   - RECOVERY where the dispatch can only warn: on the
  *     [[BucketFilteredDispatchSpec]] geometry's starved-LARGE arm
  *     (cluster-correlated ~17%, above the auto-exact ceiling — route
  *     `probe_starved`) and on the bimodal even-split arm, labeled
  *     serving must beat the collapsed probe-then-filter path by a
  *     wide margin and clear an absolute recall bar vs the exact
  *     filtered ground truth;
  *   - the probe rule is exactly "top-M of the label's buckets/cells
  *     by rounded distance to the label's own within-bucket mean,
  *     (dist, keys) ties" — brute-recomputed here for both families
  *     (the same derivation `q_lsh_filtered_labeled` /
  *     `q_ivf_filtered_labeled` replay in DuckDB);
  *   - the probe-budget curve is monotone and the default sits at or
  *     past its knee;
  *   - label purity, per-query labels, unknown labels, multi-label
  *     rows, duplicate label rows, same-fitted-model (no refit), and
  *     save/load round-trips (centroid sidecar included);
  *   - `searchAllFiltered(decision = Some(d))` serves row-identically
  *     to the recomputed-decision form (the round-17 decision-reuse
  *     pass-through, both families).
  */
class LabeledBucketSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private val K = 5

  // the BucketFilteredDispatchSpec geometry: 200 clusters x 10 points,
  // 32-d; cluster-level labels make every label a geometric region (the
  // correlated-filter regime the labeled store exists for)
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(200)(Array.fill(32)(rnd.nextGaussian()))
    (0 until 2000).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()
  }

  // label6 = cluster % 6 (the ~17% starved-large arm when filtering one
  // value); label2 = cluster % 2 (the bimodal even-split arm)
  private def labels6: DataFrame =
    corpus.select($"vec_id",
      pmod(($"vec_id" / 10).cast("long"), lit(6)).cast("string").as("label"))
  private def labels2: DataFrame =
    corpus.select($"vec_id",
      pmod(($"vec_id" / 10).cast("long"), lit(2)).cast("string").as("label"))

  private lazy val idx = Lsh.train(corpus, "vec_id", "embedding",
    LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))
  private lazy val lidx6 = idx.withLabels(labels6)
  private lazy val lidx2 = idx.withLabels(labels2)

  private lazy val ivf = Ivf.train(corpus, "vec_id", "embedding",
    IvfConfig(nCells = 200, nProbe = 8, seed = 5L))
  private lazy val livf6 = ivf.withLabels(labels6)

  private def queriesWith(label: String): DataFrame =
    corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        lit(label).as("label"))
      .localCheckpoint()

  private def recallOf(pred: DataFrame, gt: DataFrame): Double =
    graft.eval.Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
        gt.select("query_id", "vec_id"))
      .agg(avg("recall")).as[Double].head()

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect().toSet

  test("starved-large arm: labeled serving recovers where probe-then-filter collapses") {
    val pred = pmod(($"vec_id" / 10).cast("long"), lit(6)) === 0
    val q = queriesWith("0")
    val gt = ExactNN.topK(q, corpus.where(pred), K, ExactNN.Cosine)
      .localCheckpoint()
    val probeRec = recallOf(
      idx.searchAll(q, K, Double.MaxValue, ExactNN.Cosine,
        allowed = Some(corpus.where(pred).select("vec_id"))), gt)
    val labeledRec = recallOf(
      lidx6.searchAllLabeled(q, K, Double.MaxValue, ExactNN.Cosine), gt)
    info(f"starved-large: probe=$probeRec%.3f labeled=$labeledRec%.3f")
    assert(probeRec < 0.8, f"arm not collapsed ($probeRec%.3f) — geometry drifted")
    assert(labeledRec >= 0.95, f"labeled recall $labeledRec%.3f below bar")
    assert(labeledRec >= probeRec + 0.2, "labeled must beat probe widely")
  }

  test("bimodal even-split arm: labeled serving recovers the starved half") {
    val pred = pmod(($"vec_id" / 10).cast("long"), lit(2)) === 0
    val q = queriesWith("0")
    val gt = ExactNN.topK(q, corpus.where(pred), K, ExactNN.Cosine)
      .localCheckpoint()
    def perQueryMin(df: DataFrame): Double =
      graft.eval.Eval.setPrecisionRecall(df.select("query_id", "vec_id"),
          gt.select("query_id", "vec_id"))
        .agg(min("recall")).as[Double].head()
    val labeled = lidx2.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine)
    val labeledRec = recallOf(labeled, gt)
    val labeledMin = perQueryMin(labeled)
    info(f"bimodal: labeled avg=$labeledRec%.3f min=$labeledMin%.3f")
    assert(labeledRec >= 0.95, f"labeled recall $labeledRec%.3f below bar")
    assert(labeledMin >= 0.4,
      f"worst-query recall $labeledMin%.3f — the starved half did not recover")
  }

  test("probe-budget curve: monotone, default at or past the knee") {
    val pred = pmod(($"vec_id" / 10).cast("long"), lit(6)) === 0
    val q = queriesWith("0")
    val gt = ExactNN.topK(q, corpus.where(pred), K, ExactNN.Cosine)
      .localCheckpoint()
    val curve = Seq(2, 8, 32, 64).map { m =>
      m -> recallOf(lidx6.searchAllLabeled(q, K, Double.MaxValue,
        ExactNN.Cosine, maxProbeBuckets = m), gt)
    }
    info(curve.map { case (m, r) => f"M=$m:$r%.3f" }.mkString(" "))
    curve.sliding(2).foreach { case Seq((ma, ra), (mb, rb)) =>
      assert(rb >= ra - 1e-9, s"recall fell from M=$ma to M=$mb")
    }
    val byM = curve.toMap
    assert(byM(LabeledLshIndex.DefaultMaxProbeBuckets) >= byM(8),
      "default must sit at or past the knee")
  }

  test("LSH probe rule: top-M by rounded label-centroid distance, (dist, tree, hash) ties") {
    val q = queriesWith("0")
    val m = 16
    val got = lidx6.scopedProbeRows(q, m, ExactNN.Cosine)
      .select($"query_id", $"tree_id", $"hash", $"probe_rank")
      .as[(Long, Int, Long, Int)].collect()
      .groupBy(_._1)
      .map { case (qid, rs) =>
        qid -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    // brute recompute: centroids collected, ranked per query
    val cents = lidx6.bucketCentroids.where($"label" === "0")
      .select($"tree_id", $"hash", $"centroid")
      .as[(Int, Long, Seq[Double])].collect()
    val qvs = q.select($"query_id", $"qv".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      val d = 1.0 - dot / (na * nb)
      val r = if (d < 1e-6) 0.0 else d
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    qvs.foreach { case (qid, qv) =>
      val expected = cents
        .map { case (t, h, c) => (cos(qv, c), t, h) }
        .sortBy { case (d, t, h) => (d, t, h) }
        .take(m)
        .map { case (_, t, h) => (t, h) }
        .toSeq
      assert(got(qid) === expected, s"query $qid probe ranking diverged")
    }
    // centroids live on centroidTrees trees only
    assert(lidx6.bucketCentroids
      .where($"tree_id" >= lidx6.centroidTrees).count() === 0L)
  }

  test("served rows are label-pure and per-query labels bind independently") {
    val q = corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        when(pmod($"vec_id", lit(2)) === 0, lit("1")).otherwise(lit("4"))
          .as("label"))
      .localCheckpoint()
    val served = lidx6.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine)
    val joined = served
      .join(labels6.select($"vec_id", $"label".as("vl")), "vec_id")
      .join(q.select($"query_id", $"label".as("ql")), "query_id")
    assert(joined.where($"vl" =!= $"ql").count() === 0L,
      "a served row crossed its query's label partition")
    val q1 = q.where($"label" === "1")
    val solo = lidx6.searchAllLabeled(q1, K, Double.MaxValue,
      ExactNN.Cosine)
    val mixed1 = served.join(q1.select("query_id"), "query_id")
    assert(rows(mixed1) === rows(solo), "mixed-label serve diverged")
  }

  test("unknown label serves empty, not an error") {
    val q = queriesWith("no-such-label")
    assert(lidx6.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine).count() === 0L)
    val qi = queriesWith("no-such-label")
    assert(livf6.searchAllLabeled(qi, K, ExactNN.L2).count() === 0L)
  }

  test("withLabels reuses the fitted model (no refit) and tolerates duplicate label rows") {
    assert(lidx6.model eq idx.model)
    assert(livf6.model eq ivf.model)
    val dup = idx.withLabels(labels6.unionByName(labels6))
    val q = queriesWith("0")
    assert(rows(dup.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine)) ===
      rows(lidx6.searchAllLabeled(q, K, Double.MaxValue, ExactNN.Cosine)))
  }

  test("multi-label rows serve in every partition their labels name") {
    val extra = corpus.where($"vec_id" < 10)
      .select($"vec_id", lit("x").as("label"))
    val multi = idx.withLabels(labels6.unionByName(extra))
    val q = queriesWith("x")
    val served = multi.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine)
    assert(served.select("vec_id").distinct().as[Long].collect()
      .forall(_ < 10L))
    assert(served.count() > 0L)
    val q0 = queriesWith("0")
    val ids0 = multi.searchAllLabeled(q0, K, Double.MaxValue,
        ExactNN.Cosine)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(ids0.nonEmpty)
  }

  test("IVF probe rule: top-nProbe by rounded label-centroid distance, (dist, cell) ties") {
    val q = queriesWith("2")
    val probes = livf6.scopedProbeRows(q)
      .select($"query_id", $"cell", $"probe_rank")
      .as[(Long, Int, Int)].collect()
      .groupBy(_._1).map { case (qid, rs) =>
        qid -> rs.sortBy(_._3).map(_._2).toSeq }
    val cents = livf6.cellCentroids.where($"label" === "2")
      .select($"cell", $"centroid")
      .as[(Int, Seq[Double])].collect()
    val qvs = q.select($"query_id", $"qv".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def l2(a: Seq[Double], b: Seq[Double]): Double = {
      val d = math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    qvs.foreach { case (qid, qv) =>
      val expected = cents
        .map { case (c, v) => (l2(qv, v), c) }
        .sortBy(identity)
        .take(ivf.model.config.nProbe)
        .map(_._2)
        .toSeq
      assert(probes(qid) === expected, s"query $qid probe order diverged")
    }
  }

  test("IVF labeled serving recovers the starved-large arm") {
    val pred = pmod(($"vec_id" / 10).cast("long"), lit(6)) === 0
    val q = queriesWith("0")
    val gt = ExactNN.topK(q, corpus.where(pred), K, ExactNN.L2)
      .localCheckpoint()
    val probeRec = recallOf(
      ivf.searchAll(q, K, ExactNN.L2,
        allowed = Some(corpus.where(pred).select("vec_id"))), gt)
    val labeledRec = recallOf(livf6.searchAllLabeled(q, K, ExactNN.L2), gt)
    info(f"ivf starved-large: probe=$probeRec%.3f labeled=$labeledRec%.3f")
    assert(labeledRec >= 0.95, f"labeled recall $labeledRec%.3f below bar")
    assert(labeledRec >= probeRec,
      "labeled must not lose to probe-then-filter")
  }

  test("lifecycle: deletes vanish, appends serve, refreshCentroids flushes staleness") {
    val q = queriesWith("0")
    // delete the whole first allowed cluster (cluster 0, label6 = 0)
    val dead = corpus.where($"vec_id" < 10).select("vec_id")
    val served0 = lidx6.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine).select("vec_id").as[Long].collect().toSet
    assert(served0.exists(_ < 10L), "cluster 0 should serve pre-delete")
    val del = lidx6.withDeletes(dead)
    val servedDel = del.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine).select("vec_id").as[Long].collect().toSet
    assert(!servedDel.exists(_ < 10L), "a deleted id served")
    // the stale sidecar is the PRE-delete one by contract…
    assert(del.bucketCentroids eq lidx6.bucketCentroids)
    // …and refreshCentroids recomputes against the current tables:
    // cluster 0's rows no longer contribute to any label-0 bucket mean
    val refreshed = del.refreshCentroids()
    val staleCount = lidx6.bucketCentroids.where($"label" === "0").count()
    val freshCount = refreshed.bucketCentroids.where($"label" === "0").count()
    assert(freshCount <= staleCount)
    assert(refreshed.bucketCentroids.where($"label" === "0")
      .exceptAll(lidx6.bucketCentroids.where($"label" === "0"))
      .count() > 0L,
      "refresh must move the means the deleted cluster contributed to")
    val servedRef = refreshed.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine).select("vec_id").as[Long].collect().toSet
    assert(!servedRef.exists(_ < 10L))
    // append: clones of query 0 under label "0" serve immediately
    val arr = corpus.where($"vec_id" === 0)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding",
        lit("0").as("label"))
    val app = lidx6.append(arr)
    val servedApp = app.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine).select("vec_id").as[Long].collect().toSet
    assert(servedApp.contains(100000L), "an appended arrival did not serve")
    // the IVF twin, same contracts
    val delIvf = livf6.withDeletes(dead)
    assert(!delIvf.searchAllLabeled(q, K, ExactNN.L2)
      .select("vec_id").as[Long].collect().exists(_ < 10L))
    val appIvf = livf6.append(arr)
    assert(appIvf.searchAllLabeled(q, K, ExactNN.L2)
      .select("vec_id").as[Long].collect().contains(100000L))
    // a MULTI-LABEL arrival appends ONE vector row (the round-17
    // self-review bug: an undeduped union doubled it and the doubled
    // row occupied two top-k slots) — served once per result set. Its
    // label-0 leg lands in a bucket label 0 already probes (cluster
    // 0's) and serves immediately; its label-3 leg OPENS that bucket
    // for label 3, so it is unreachable until refreshCentroids — the
    // append scaladoc's new-bucket directory rule, pinned here.
    val multiArr = corpus.where($"vec_id" === 0)
      .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
      .crossJoin(Seq("0", "3").toDF("label"))
    val st = lidx6.append(multiArr)
    val s0 = st.searchAllLabeled(q, K, Double.MaxValue, ExactNN.Cosine)
    assert(s0.count() ===
      s0.dropDuplicates("query_id", "vec_id").count(),
      "duplicate (query, vec) rows after a multi-label append")
    assert(s0.select("vec_id").as[Long].collect().contains(200000L))
    val q3 = queriesWith("3")
    assert(st.refreshCentroids()
      .searchAllLabeled(q3, K, Double.MaxValue, ExactNN.Cosine)
      .select("vec_id").as[Long].collect().contains(200000L),
      "refreshed sidecar must reach the newly opened (label, bucket)")
    val ivfMulti = livf6.append(multiArr)
    val si = ivfMulti.searchAllLabeled(q, K, ExactNN.L2)
    assert(si.count() === si.dropDuplicates("query_id", "vec_id").count())
  }

  test("save/load round-trips both labeled stores (centroid sidecar included)") {
    val dir = java.nio.file.Files.createTempDirectory("labeled").toString
    val q = queriesWith("0")
    lidx6.save(spark, s"$dir/lsh")
    val lshBack = LabeledLshIndex.load(spark, s"$dir/lsh")
    assert(lshBack.centroidTrees === lidx6.centroidTrees)
    assert(rows(lshBack.searchAllLabeled(q, K, Double.MaxValue,
      ExactNN.Cosine)) ===
      rows(lidx6.searchAllLabeled(q, K, Double.MaxValue, ExactNN.Cosine)))
    livf6.save(spark, s"$dir/ivf")
    val ivfBack = graft.ann.ivf.LabeledIvfIndex.load(spark, s"$dir/ivf")
    assert(rows(ivfBack.searchAllLabeled(q, K, ExactNN.L2)) ===
      rows(livf6.searchAllLabeled(q, K, ExactNN.L2)))
  }

  test("searchAllFiltered: a precomputed decision serves row-identically and skips recomputation") {
    val pred = pmod(($"vec_id" / 10).cast("long"), lit(10)) === 3
    val allowed = corpus.where(pred).select("vec_id")
    val q = corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .localCheckpoint()
    val d = idx.filteredDecision(q, allowed, K, metric = ExactNN.Cosine)
    val reused = idx.searchAllFiltered(q, allowed, K, Double.MaxValue,
      ExactNN.Cosine, decision = Some(d))
    val recomputed = idx.searchAllFiltered(q, allowed, K, Double.MaxValue,
      ExactNN.Cosine)
    assert(rows(reused) === rows(recomputed))
    val dIvf = ivf.filteredDecision(q, allowed, K)
    assert(rows(ivf.searchAllFiltered(q, allowed, K, ExactNN.L2,
      decision = Some(dIvf))) ===
      rows(ivf.searchAllFiltered(q, allowed, K, ExactNN.L2)))
    // a forced decision binds the route (no internal re-derivation)
    val forced = graft.ann.FilteredSearch.Decision(2000L, 200L, None,
      graft.ann.FilteredSearch.ExactSelectivity)
    val exact = ExactNN.topK(q, corpus.where(pred), K, ExactNN.Cosine,
      threshold = Some(Double.MaxValue))
    assert(rows(idx.searchAllFiltered(q, allowed, K, Double.MaxValue,
      ExactNN.Cosine, decision = Some(forced))) === rows(exact))
  }
}
