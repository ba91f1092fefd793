package graft.ann.lsh

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.{ExactNN, FilteredSearch}

/** Constrained (metadata-filtered) search semantics:
  *
  *   - `allowed` composes with `maxCandidates` as FILTER-then-CAP:
  *     disallowed candidates never consume cap slots (the cap's
  *     contract is "at most cap ALLOWED candidates per query");
  *   - [[FilteredSearch.useExactScan]] is the pure selectivity rule;
  *   - [[LshIndex.searchAllFiltered]] dispatches on it: a selective
  *     allow-list brute-forces the allowed subset (recall 1.0 even for
  *     vectors the probe path can NEVER see), a loose one runs
  *     probe-then-filter (identical rows to `searchAll(allowed=…)`).
  */
class FilteredSearchSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("useExactScan: pure selectivity rule") {
    // at/below the fraction -> exact scan
    assert(FilteredSearch.useExactScan(5, 100))
    assert(FilteredSearch.useExactScan(5000, 100000))
    // above it -> probe path
    assert(!FilteredSearch.useExactScan(6, 100))
    assert(!FilteredSearch.useExactScan(50, 100))
    // custom cutoff
    assert(FilteredSearch.useExactScan(50, 100, maxExactFraction = 0.5))
    assert(!FilteredSearch.useExactScan(51, 100, maxExactFraction = 0.5))
    // degenerate corpus -> nothing to probe, exact scan
    assert(FilteredSearch.useExactScan(0, 0))
  }

  test("allowed + maxCandidates compose filter-then-cap: disallowed rows never consume cap slots") {
    val rng = new scala.util.Random(31)
    val corpus = (0L until 12L).map(i =>
      (i, Seq.fill(4)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    // kMinVecs >= corpus: every tree is a single leaf, so each query's
    // candidate set is the WHOLE corpus — the cap interaction is fully
    // determined: filter to even ids first, then cap keeps the 3
    // smallest even ids {0,2,4} (cap-before-filter would keep {0,1,2}
    // and return only {0,2} — the latent slot theft this pins).
    val idx = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 3, kMinVecs = 64, seed = 7L))
    val queries = corpus.limit(2)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val res = idx.searchAll(queries, k = 3, distanceThreshold = 1e9,
        ExactNN.L2, allowed = Some(corpus.where($"vec_id" % 2 === 0)),
        maxCandidates = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = ExactNN.topK(queries, corpus.where($"vec_id".isin(0L, 2L, 4L)),
        k = 3, ExactNN.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.toSet === expected.toSet,
      "capped+filtered search must equal exact top-k over the first-cap " +
        "ALLOWED candidates {0,2,4}")
    assert(res.groupBy(_._1).values.forall(_.size == 3),
      "each query must deliver the full 3 allowed rows")
  }

  test("searchAllFiltered dispatch: selective filter takes the exact scan, loose filter the probe path") {
    val rng = new scala.util.Random(17)
    val corpus = (0L until 100L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val full = Lsh.train(corpus, "vec_id", "embedding",
      LshConfig(nTrees = 6, kMinVecs = 10, seed = 3L))
    // adversarial index: vec 7 exists in the corpus but in NO bucket —
    // the probe path can never return it; only the exact scan can
    val idx = LshIndex.fromBuckets(full.model, full.vectors,
      full.buckets.where($"vec_id" =!= 7L))
    val queries = corpus.where($"vec_id" === 7L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))

    // 3/100 = 3% < 5% -> exact path; must find the unbucketed vec 7
    val tight = corpus.where($"vec_id".isin(7L, 13L, 21L))
    val tightRes = idx.searchAllFiltered(queries, tight, k = 3,
      distanceThreshold = 1e9, ExactNN.L2)
    val tightRows = tightRes.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(tightRows.map(_._2).contains(7L),
      "selective dispatch must brute-force the subset and surface the " +
        "vector the probe path cannot see")
    val exactGt = ExactNN.topK(queries, corpus.where($"vec_id".isin(7L, 13L, 21L)),
        k = 3, ExactNN.L2, threshold = Some(1e9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(tightRows.toSet === exactGt.toSet, "exact path must equal ExactNN over the subset")

    // 51/100 > 5% -> probe path; vec 7 is unbucketed so it cannot appear
    val loose = corpus.where($"vec_id" % 2 === 0 || $"vec_id" === 7L)
    val looseRows = idx.searchAllFiltered(queries, loose, k = 3,
        distanceThreshold = 1e9, ExactNN.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!looseRows.map(_._2).contains(7L),
      "loose dispatch must take the probe path, which cannot see vec 7")
    val probeGt = idx.searchAll(queries, k = 3, distanceThreshold = 1e9,
        ExactNN.L2, allowed = Some(loose.select("vec_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(looseRows.toSet === probeGt.toSet,
      "probe path must be row-identical to searchAll(allowed=…)")

    // caller-supplied counts skip the count jobs but bind the same rule
    val forcedExact = idx.searchAllFiltered(queries, loose, k = 3,
        distanceThreshold = 1e9, ExactNN.L2,
        allowedCount = Some(2L), corpusCount = Some(100L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(forcedExact.map(_._2).contains(7L),
      "caller-supplied counts drive the dispatch")
  }

  test("IVF searchAllFiltered dispatch mirrors LSH") {
    import graft.ann.ivf.{Ivf, IvfConfig, IvfIndex}
    val rng = new scala.util.Random(23)
    val corpus = (0L until 100L).map(i =>
      (i, Seq.fill(6)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val full = Ivf.train(corpus, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 2, iters = 3, seed = 5L))
    val idx = new IvfIndex(full.model, full.vectors,
      full.cells.where($"vec_id" =!= 9L))
    val queries = corpus.where($"vec_id" === 9L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // selective -> exact scan sees the cell-less vec 9
    val tightRows = idx.searchAllFiltered(queries,
        corpus.where($"vec_id".isin(9L, 41L, 77L)), k = 3, ExactNN.L2)
      .collect().map(_.getLong(1))
    assert(tightRows.contains(9L))
    // loose -> probe path cannot see it
    val looseRows = idx.searchAllFiltered(queries,
        corpus.where($"vec_id" % 2 === 1L), k = 3, ExactNN.L2)
      .collect().map(_.getLong(1))
    assert(!looseRows.contains(9L))
  }
}
