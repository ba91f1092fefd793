package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.lsh.{Lsh, LshConfig}

/** Density-aware routing for constrained graph search
  * ([[GraphSearch.filteredDecision]] / [[GraphSearch.beamFromFiltered]]
  * over [[FilteredSearch.route]]): the engine's own 1M measurement
  * (SCALE.md §filtered ANN, round 14) shows filtered-walk recall is a
  * DENSITY property — a 10%-selective filter that thins local
  * neighborhoods below k serves 0.22 recall with no walk parameter
  * able to move it — so dispatch must look at local allowed density,
  * not selectivity alone. Contracts:
  *
  *   - the pure rule ([[FilteredSearch.route]]) boundary behavior;
  *   - a density-starved 10% filter auto-dispatches to the exact
  *     subset scan (route `exact_density`, output row-identical to
  *     [[ExactNN.topK]] over the subset — recall 1.0);
  *   - a locally-dense 50% filter stays on the walk (route `walk`,
  *     output row-identical to [[GraphSearch.beamFrom]] `allowed`);
  *   - a starved filter ABOVE the auto-exact ceiling walks with the
  *     warning route (`walk_starved`), output still the walk's;
  *   - the selectivity cutoff short-circuits first (no estimator);
  *   - `densityDispatch = false` restores the selectivity-only rule.
  */
class GraphFilteredDispatchSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private val K = 5
  private val Beam = 20
  private val Hops = 4

  // 200 clusters x 10 points (the LabelGraphSpec geometry): a mod-10
  // filter leaves ~1 allowed row per cluster (~2 among each query's
  // Beam nearest local candidates — starved vs k=5); mod-2 leaves ~5
  // per cluster (~10 locally — dense); mod-6 is ~16.7% selective
  // (above the 15% auto-exact ceiling) and ~3.3 locally — starved.
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(200)(Array.fill(32)(rnd.nextGaussian()))
    (0 until 2000).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()
  }

  private lazy val idx = Lsh.train(corpus, "vec_id", "embedding",
    LshConfig(nTrees = 8, kMinVecs = 40, angular = true, seed = 7L))

  private lazy val graph: DataFrame =
    KnnGraph.fromLsh(idx, corpus, "vec_id", "embedding", K, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(corpus, "vec_id"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()

  private lazy val queries: DataFrame =
    corpus.orderBy("vec_id").limit(40)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .localCheckpoint()

  private lazy val entries: DataFrame =
    idx.searchAll(queries, 16, Double.MaxValue, ExactNN.Cosine)
      .select($"query_id", $"vec_id".as("node"))
      .localCheckpoint()

  private def decide(pred: org.apache.spark.sql.Column,
                     densityDispatch: Boolean = true) =
    GraphSearch.filteredDecision(graph, corpus, "vec_id", "embedding",
      queries, entries, K, Beam, pred, ExactNN.Cosine,
      densityDispatch = densityDispatch)

  private def dispatch(pred: org.apache.spark.sql.Column): DataFrame =
    GraphSearch.beamFromFiltered(graph, corpus, "vec_id", "embedding",
      queries, entries, K, Beam, Hops, pred, ExactNN.Cosine)

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect().toSet

  test("pure rule: boundaries of FilteredSearch.route") {
    import FilteredSearch._
    // selectivity cutoff binds first, regardless of density
    assert(route(50, 1000, medianLocalAllowed = 0.0, k = 10) ===
      ExactSelectivity)
    // dense: median >= k walks (boundary inclusive)
    assert(route(500, 1000, medianLocalAllowed = 10.0, k = 10) === Walk)
    // starved + subset within the auto ceiling -> exact
    assert(route(100, 1000, medianLocalAllowed = 2.0, k = 10) ===
      ExactDensity)
    assert(route(150, 1000, medianLocalAllowed = 2.0, k = 10) ===
      ExactDensity) // exactly at the 15% ceiling
    // starved + subset too large -> walk with warning route
    assert(route(151, 1000, medianLocalAllowed = 2.0, k = 10) ===
      WalkStarved)
    // degenerate corpus -> exact (nothing to probe)
    assert(route(0, 0, medianLocalAllowed = 0.0, k = 10) ===
      ExactSelectivity)
    // name round-trip
    Seq(ExactSelectivity, ExactDensity, Walk, WalkStarved).foreach { r =>
      assert(routeOf(r.name) === r)
    }
  }

  test("starved 10% filter auto-dispatches to the exact subset scan") {
    val pred = pmod($"vec_id", lit(10)) === 3
    val d = decide(pred)
    assert(d.route === FilteredSearch.ExactDensity, d.toString)
    assert(d.medianLocalAllowed.exists(_ < K),
      s"median ${d.medianLocalAllowed} expected < $K")
    assert(d.allowedCount === 200L && d.corpusCount === 2000L)
    // output identity: the dispatch IS the exact scan over the subset
    val expected = ExactNN.topK(queries, corpus.where(pred)
      .select($"vec_id", $"embedding"), K, ExactNN.Cosine)
    assert(rows(dispatch(pred)) === rows(expected))
    // and therefore recall 1.0 by construction
    val rec = graft.eval.Eval.setPrecisionRecall(
        dispatch(pred).select($"query_id", $"vec_id"),
        expected.select($"query_id", $"vec_id"))
      .agg(avg("recall")).as[Double].head()
    assert(rec === 1.0)
  }

  test("locally dense 50% filter stays on the walk") {
    val pred = pmod($"vec_id", lit(2)) === 0
    val d = decide(pred)
    assert(d.route === FilteredSearch.Walk, d.toString)
    assert(d.medianLocalAllowed.exists(_ >= K),
      s"median ${d.medianLocalAllowed} expected >= $K")
    val walk = GraphSearch.beamFrom(graph, corpus, "vec_id", "embedding",
      queries, entries, K, Beam, Hops, ExactNN.Cosine,
      allowed = Some(pred))
    assert(rows(dispatch(pred)) === rows(walk))
  }

  test("starved filter above the auto-exact ceiling walks with the warning route") {
    val pred = pmod($"vec_id", lit(6)) === 0 // ~16.7% > 15% ceiling
    val d = decide(pred)
    assert(d.route === FilteredSearch.WalkStarved, d.toString)
    assert(d.medianLocalAllowed.exists(_ < K))
    assert(d.selectivity > FilteredSearch.DefaultMaxAutoExactFraction)
    val walk = GraphSearch.beamFrom(graph, corpus, "vec_id", "embedding",
      queries, entries, K, Beam, Hops, ExactNN.Cosine,
      allowed = Some(pred))
    assert(rows(dispatch(pred)) === rows(walk))
  }

  test("empty entry set: estimator reads median 0 and routes exact (no crash, real results)") {
    // no estimator rows (empty entries; same for entry ids absent from
    // the vector table) must degrade to maximally-starved, not throw —
    // and the exact route then serves REAL results where the walk's
    // empty frontier would serve nothing
    val pred = pmod($"vec_id", lit(10)) === 3
    val noEntries = entries.limit(0)
    val d = GraphSearch.filteredDecision(graph, corpus, "vec_id",
      "embedding", queries, noEntries, K, Beam, pred, ExactNN.Cosine)
    assert(d.medianLocalAllowed.contains(0.0), d.toString)
    assert(d.route === FilteredSearch.ExactDensity)
    val expected = ExactNN.topK(queries, corpus.where(pred)
      .select($"vec_id", $"embedding"), K, ExactNN.Cosine)
    val got = GraphSearch.beamFromFiltered(graph, corpus, "vec_id",
      "embedding", queries, noEntries, K, Beam, Hops, pred,
      ExactNN.Cosine)
    assert(rows(got) === rows(expected))
  }

  test("selectivity cutoff short-circuits before the estimator") {
    val pred = pmod($"vec_id", lit(50)) === 0 // 2% <= 5%
    val d = decide(pred)
    assert(d.route === FilteredSearch.ExactSelectivity)
    assert(d.medianLocalAllowed.isEmpty,
      "estimator must not run under the selectivity short-circuit")
  }

  test("cutoff sweep: shared-serve arms == per-arm beamFromFiltered (selectivity-only)") {
    // the q_autotune_filtered form: the two routes computed once each,
    // every arm picking one by FilteredSearch.useExactScan — must be
    // row-identical to running beamFromFiltered per arm with
    // densityDispatch = false
    val pred = pmod($"vec_id", lit(10)) === 3 // 10% selective
    val (nC, nA) = (2000L, 200L)
    val walk = GraphSearch.beamFrom(graph, corpus, "vec_id", "embedding",
      queries, entries, K, Beam, Hops, ExactNN.Cosine,
      allowed = Some(pred))
    val exact = ExactNN.topK(queries, corpus.where(pred)
      .select($"vec_id", $"embedding"), K, ExactNN.Cosine)
    Seq(2, 5, 15, 50).foreach { arm =>
      val shared =
        if (FilteredSearch.useExactScan(nA, nC, arm / 100.0)) exact
        else walk
      val perArm = GraphSearch.beamFromFiltered(graph, corpus, "vec_id",
        "embedding", queries, entries, K, Beam, Hops, pred,
        ExactNN.Cosine, maxExactFraction = arm / 100.0,
        densityDispatch = false)
      assert(rows(shared) === rows(perArm), s"arm $arm diverged")
    }
  }

  test("pending tombstones lower the density estimate: excluded rows don't count as allowed") {
    // mod-2 is locally DENSE (median >= k, routes `walk`) — but if a
    // delete-heavy batch tombstones 4/5 of the allowed rows, the
    // SERVABLE local density is starved and the estimate must see it:
    // excluded rows still occupy local top-beamWidth slots (the walk
    // routes through them) but never serve. Without the threading the
    // estimator counted them as allowed and routed `walk` into a
    // neighborhood the walk cannot fill.
    val pred = pmod($"vec_id", lit(2)) === 0
    val tomb = corpus.where(pmod($"vec_id", lit(10)).isin(0L, 2L, 4L, 6L))
      .select($"vec_id")
    val without = decide(pred)
    assert(without.route === FilteredSearch.Walk)
    val d = GraphSearch.filteredDecision(graph, corpus, "vec_id",
      "embedding", queries, entries, K, Beam, pred, ExactNN.Cosine,
      excluded = Some(tomb))
    assert(d.medianLocalAllowed.exists(_ < K),
      s"median ${d.medianLocalAllowed} expected < $K under tombstones")
    assert(d.medianLocalAllowed.get < without.medianLocalAllowed.get)
    // counts still include excluded rows (corpus-level ratio; the
    // tombstone log is batch-sized by contract) -> 50% > the 15%
    // ceiling -> the warning route, not a silent walk
    assert(d.route === FilteredSearch.WalkStarved, d.toString)
  }

  test("knownCounts skips the counts pass and drives the rule") {
    val pred = pmod($"vec_id", lit(10)) === 3
    // identical counts -> identical decision as the counted path
    val d = GraphSearch.filteredDecision(graph, corpus, "vec_id",
      "embedding", queries, entries, K, Beam, pred, ExactNN.Cosine,
      knownCounts = Some((2000L, 200L)))
    assert(d === decide(pred))
    // the supplied counts are AUTHORITATIVE: a 2%-selective claim
    // short-circuits to the selectivity route without any corpus scan
    val d2 = GraphSearch.filteredDecision(graph, corpus, "vec_id",
      "embedding", queries, entries, K, Beam, pred, ExactNN.Cosine,
      knownCounts = Some((2000L, 40L)))
    assert(d2.route === FilteredSearch.ExactSelectivity)
    assert(d2.corpusCount === 2000L && d2.allowedCount === 40L)
  }

  test("densityDispatch = false restores the selectivity-only rule") {
    val pred = pmod($"vec_id", lit(10)) === 3 // starved, but dispatch off
    val d = decide(pred, densityDispatch = false)
    assert(d.route === FilteredSearch.Walk)
    assert(d.medianLocalAllowed.isEmpty)
    // 2% still dispatches exact on selectivity alone
    assert(decide(pmod($"vec_id", lit(50)) === 0,
      densityDispatch = false).route === FilteredSearch.ExactSelectivity)
  }
}
