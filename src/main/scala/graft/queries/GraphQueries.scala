package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.ExactNN
import graft.ann.lsh.{Lsh, LshConfig, LshIndex}
import graft.eval.Eval
import graft.functions.exprs

/** The graph-index family's driver-contract queries — k-NN graph
  * construction (LSH-bucketed, NN-Descent-refined, exact baseline),
  * beam serving (global and coarse-seeded entries, deletes, scoped
  * maintenance), constrained (filtered) serving with the
  * density-aware dispatch, and the graph-side tuning sweeps. Split
  * out of [[SimilarityQueries]] round 15 (pure moves — same keys,
  * same oracle SQL); shared primitives (emb/queriesDf/exact GT
  * memos) stay in [[SimilarityQueries]] and are aliased below so the
  * moved query bodies are byte-identical.
  */
object GraphQueries extends QueryPack {

  // thin aliases into the shared builds' home packs: each memoized
  // build lives with its defining method (one memo home per tag), so
  // cross-pack consumers route through that object and the moved
  // query bodies need no edits
  private def K: Int = SimilarityQueries.K
  private def emb(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.emb(s, dir)
  private def queriesDf(e: DataFrame): DataFrame =
    SimilarityQueries.queriesDf(e)
  private def exactGtL2(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.exactGtL2(s, dir)
  private def exactGtCos(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.exactGtCos(s, dir)
  private def AutoTuneTarget: Double = CompressedQueries.AutoTuneTarget
  private def autotuneOracleSql(dumpSub: String, arms: Seq[Int],
                                target: Double, distSql: String,
                                corpusWhere: String = ""): String =
    CompressedQueries.autotuneOracleSql(dumpSub, arms, target, distSql,
      corpusWhere)


  /** Shared seeded LSH index over the full embeddings table — the
    * common coarse structure under every graph-family query. */
  private def graphLshIndex(s: SparkSession, dir: String): LshIndex =
    memoized(s, dir, "graph_lsh") {
      Lsh.train(emb(s, dir), "vec_id", "embedding",
        LshConfig(nTrees = 10, kMinVecs = 80, angular = true, seed = 42L))
    }

  /** Shared LSH-bucketed initial k-NN graph (KnnGraph.fromLsh). */
  private def graphInit(s: SparkSession, dir: String): DataFrame = {
    val idx = graphLshIndex(s, dir)
    memoized(s, dir, "graph_init") {
      graft.ann.KnnGraph.fromLsh(idx, emb(s, dir), "vec_id", "embedding",
          KnnK, ExactNN.Cosine, maxBucketOccupancy = 200)
        .localCheckpoint()
    }
  }

  /** Shared 1-iteration NN-Descent refinement + small-world backbone —
    * the exact walk graph both beam queries certify. */
  private def graphRefinedBackbone(s: SparkSession, dir: String): DataFrame = {
    val g0 = graphInit(s, dir)
    memoized(s, dir, "graph_refined_bb") {
      val e = emb(s, dir)
      val g = graft.ann.NnDescent.refine(g0, e, "vec_id", "embedding",
        KnnK, ExactNN.Cosine, iterations = 1)
      g.select(col("src"), col("dst"))
        .unionByName(graft.ann.GraphSearch.randomBackbone(e, "vec_id"))
        .dropDuplicates("src", "dst")
        .localCheckpoint()
    }
  }

  /** `q_graph_scoped_recall`'s maintained store: exact kNN + backbone
    * over the base corpus (all but the tail-20 ids), then ONE
    * maintainer batch — the tail-20 arrivals plus the mod-50 deletes —
    * whose refineEvery=1 cadence runs the scheduled SCOPED refine
    * inside onBatch. Everything is rule-derived and deterministic, so
    * the DuckDB oracle can reconstruct the live corpus; the store
    * builds once per (session, sf). Catalog-table names are sf-scoped
    * (Verify runs both sfs' queries in one session). */
  private def scopedGraphStore(s: SparkSession,
                               dir: String): graft.ann.GraphMaintainer = {
    // resolved BEFORE the memo lambda (the mutualExactClusters rule:
    // nested computeIfAbsent on one map throws "Recursive update")
    val gx = graphExact(s, dir)
    val n = SimilarityQueries.embCount(s, dir)
    memoized(s, dir, "scoped_graph_store") {
      val e = emb(s, dir)
      import s.implicits._
      val name = s"scoped_row_${LshQueries.sfName(dir).replace('.', '_')}"
      graft.ann.GraphSearch.dropManagedTables(s,
        s"${name}_edges", s"${name}_swap_edges")
      val base = e.where(col("vec_id") < n - InsertTailCount)
      // base graph = the session's exact-GT graph (memoized once,
      // consumed by four other rows — this was a second quadratic kNN
      // pass over 96% of the same corpus) restricted to base×base
      // edges: a base node whose true top-k includes a tail arrival
      // starts with k-1 out-edges, which is fine for a STARTING graph —
      // the maintainer's scoped refine (NN-Descent over the touched
      // region) is what certifies serving, and recall is graded
      // against DuckDB's own exact GT either way.
      val g = gx
        .where(col("src") < n - InsertTailCount &&
          col("dst") < n - InsertTailCount)
        .select(col("src"), col("dst"))
        .unionByName(graft.ann.GraphSearch.randomBackbone(base, "vec_id"))
        .dropDuplicates("src", "dst")
      graft.ann.GraphSearch.saveBucketed(g, name)
      val m = new graft.ann.GraphMaintainer(s, name,
        java.nio.file.Files.createTempDirectory(s"${name}_lsm").toString,
        "vec_id", "embedding", k = KnnK, beamWidth = BeamWidth,
        hops = BeamHops, refineEvery = 1, maxReverseDegree = InsertRevCap,
        scopedRefine = true, scopeHops = 1)
      val arrivals = e.where(col("vec_id") >= n - InsertTailCount)
      val deletes = e.where(pmod(col("vec_id"), lit(TombstoneMod)) === 0 &&
        col("vec_id") < n - InsertTailCount).select("vec_id")
      val entries = arrivals.select(col("vec_id").as("query_id"))
        .crossJoin((0L until InsertEntries).toDF("node"))
      // memo-cost note (round-17 plan audit): this build is ~2 s of
      // base-graph prep + bucketed save and ~18 s of m.onBatch at
      // sf0.1 — the insert walk + refineEvery=1 SCOPED refine that
      // q_graph_scoped_recall exists to certify. The base graph
      // already rides the memoized exact-GT graph (round 16), so the
      // remaining cost IS the feature under test, not a redundant
      // build — left as is rather than weakened.
      m.onBatch(e, arrivals, entries, Some(deletes))
      m
    }
  }

  /** Shared coarse-seeded entry sets for the standard query set — the
    * LSH probe (`graphLshIndex.searchAll` at beam width, no threshold)
    * that five graph-family queries re-derived identically per call
    * (`q_graph_filtered_recall` / `_selective` / `_auto`,
    * `q_autotune_filtered`, `q_graph_beam_seeded` — each ~6 scheduled
    * stage-jobs of probe + bucket join + dedup + score + top-k at
    * sf0.1). Seeded and dump-free, so sharing deletes the redundant
    * searches without changing a row; the queries that dump the entry
    * set for their oracle replay still dump per call. */
  private def graphEntries(s: SparkSession, dir: String): DataFrame = {
    // dependencies resolved BEFORE the memo lambda (nested
    // computeIfAbsent on the shared map is unsupported)
    val idx = graphLshIndex(s, dir)
    val q = queriesDf(emb(s, dir))
    memoized(s, dir, "graph_entries") {
      idx.searchAll(q, BeamWidth, Double.MaxValue, ExactNN.Cosine)
        .select(col("query_id"), col("vec_id").as("node"))
        .localCheckpoint()
    }
  }

  /** Shared exact (quadratic) k-NN ground-truth graph — the oracle
    * baseline consumed by four queries. */
  private[queries] def graphExact(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "graph_exact") {
      graft.ann.KnnGraph.exact(emb(s, dir), "vec_id", "embedding", KnnK,
          ExactNN.Cosine)
        .localCheckpoint()
    }

  /** Shared exact mutual-kNN clusters (mutual + ceiling + CC over the
    * exact graph) — consumed by `q_mutual_knn_clusters` (as the
    * answer) and `q_mutual_knn_clusters_lsh` (as the grading target);
    * the CC rounds are the expensive half of both. */
  private def mutualExactClusters(s: SparkSession, dir: String): DataFrame = {
    // resolved BEFORE the memo lambda — nested computeIfAbsent on one
    // map throws "Recursive update" (the QueryPack.memoized contract;
    // graphInit's pattern)
    val gx = graft.ann.KnnGraph.withMutual(graphExact(s, dir))
    memoized(s, dir, "mutual_exact_clusters") {
      graft.text.Dedup.connectedComponents(
          gx.where(col("mutual") && col("src") < col("dst")
              && col("dist") <= MutualDistMax)
            .select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .localCheckpoint()
    }
  }

  /** Online-insert query knobs: the LAST InsertTailCount vec_ids play
    * the arriving batch (so the batch stays 20 vectors at EVERY sf —
    * vec_id >= 480 was absolute, which at sf0.1's 2000 rows silently
    * made 1520 of 2000 vectors "arriving" against a 480-node base graph:
    * a 9-10 s board line measuring a misconfigured replay, not the
    * operator); entries are the InsertEntries lowest existing ids; each
    * existing node accepts at most InsertRevCap new in-links. At
    * sf0.01 (500 rows) the cut is 480 — bit-identical to the historical
    * InsertFrom constant, so the driver's oracle rows are unchanged. */
  val InsertTailCount = 20L
  val InsertEntries = 32L
  val InsertRevCap = 2
  /** sf0.01's arriving-batch cut (500 − InsertTailCount) — the value the
    * generated DuckDB oracle pins, since oracle SQL always replays the
    * sf0.01 dumps. */
  val InsertFrom = 500L - InsertTailCount

  /** Mutual-kNN cluster edge ceiling: below the 0.62+ background
    * cosine band, so mutual edges are near-dup-grade. */
  val MutualDistMax = 0.6

  /** Beam-search knobs: entry nodes 0..31, beam 32 ≥ K, 4 hops —
    * entry/beam width sized per GraphSearch's measured exploration
    * scaling (coverage comes from entries × beam, not hops). */
  val BeamEntries = 32L
  val BeamWidth = 32
  val BeamHops = 4

  /** `q_autotune_graph_beam`'s beamWidth arms (all ≥ K, ascending
    * cost) and its recall target. */
  val GraphBeamArms: Seq[Int] = Seq(10, 16, 32)
  val GraphBeamTarget = 0.95

  /** `q_graph_filtered_auto`'s predicate arms — (name, mod, remainder)
    * for `vec_id % mod = remainder`: ~50% selective (locally dense →
    * walk) and ~10% (locally starved at every sf → the density-exact
    * dispatch). Modular forms so DuckDB evaluates the identical
    * predicate. */
  val FilteredAutoArms: Seq[(String, Int, Int)] = Seq(
    ("dense_50pct", 2, 0),
    ("starved_10pct", 10, 3))

  /** `q_autotune_filtered`'s sweep: `maxExactFraction` arms as PERCENT
    * values, swept over the fixed ~10%-selective predicate
    * (`vec_id % 10 = 3`) with the selectivity-only rule (density
    * dispatch off — the knob under sweep IS the selectivity cutoff).
    * Arms below the predicate's 10% serve the filtered walk; arms at
    * or above it serve the exact subset scan (recall 1.0 by
    * construction). Ascending = ascending exact-scan cost, so
    * gradeArms' cheapest-meeting-target rule reads "the smallest
    * cutoff whose serve path still meets the recall target". */
  val FilteredCutoffArms: Seq[Int] = Seq(2, 5, 15, 50)

  /** Neighbors per node in the k-NN graph queries. */
  val KnnK = 5

  /** `q_graph_delete_serve`'s rule-derived tombstone set (vec_id ≡ 0
    * mod this) — rule-derived instead of dumped so the DuckDB oracle
    * regenerates the identical set from the embeddings table alone. */
  val TombstoneMod = 50L
  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Graph-family tuning knob under the oracle — completes the tuning
    // matrix (LSH trees / IVF nProbe / PQ rerankDepth / graph beam):
    // three beamWidth arms walked over the shared refined+backboned
    // graph from the standard global entry set, every arm's raw
    // predictions dumped in one table, per-arm recall graded vs the
    // exact cosine ground truth FROM THE GT SIDE (a query an arm
    // returned nothing for scores 0, not skipped), cheapest arm meeting
    // the target flagged. DuckDB recomputes its own GT, re-derives each
    // arm's recall from the dump, and replays the choice rule — the
    // whole tuning decision cross-engine, like q_autotune_ivf_nprobe.
    "q_autotune_graph_beam" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val g = graphRefinedBackbone(s, dir)
      import s.implicits._
      val entries = q.select(col("query_id"))
        .crossJoin((0L until BeamEntries).toDF("node"))
      // ONE walk for all three arms (GraphSearch.beamFromWidths): the
      // per-(arm, query) beams ride the same hop chain, so each hop is
      // one expansion + one scoring pass + one bounded cut instead of
      // one per arm — row-identical to the per-arm walks (the width-w
      // beam is the w-prefix of the shared max-width distinct buffer;
      // spec-pinned) and ~3x fewer scheduled jobs than the previous
      // three concurrent walks
      val preds = graft.ann.GraphSearch.beamFromWidths(g, e, "vec_id",
        "embedding", q, entries, K, GraphBeamArms, BeamHops)
      val reloaded = LshQueries.dumpAndReload(s,
        preds.select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/autotune_beam_arms")
      graft.ann.AutoTune.gradeArms(GraphBeamArms, reloaded,
          exactGtCos(s, dir), GraphBeamTarget)
        .orderBy("arm")
    }),


    // Exact k-NN graph (every node's KnnK nearest cosine neighbors +
    // the mutual-edge flag) — the quadratic baseline the LSH graph is
    // graded against, fully recomputed by DuckDB. The neighbor graph is
    // the input shape for graph dedup/clustering/diversity selection.
    "q_knn_graph" -> ((s, dir) =>
      graft.ann.KnnGraph.withMutual(graphExact(s, dir))
        .orderBy("src", "dist", "dst")),


    // Scale path: LSH same-bucket candidate edges → exact cosine on
    // candidates only → per-node bounded top-k. Edges are dumped; the
    // DuckDB oracle recomputes every edge's cosine (bad_dist_edges must
    // be 0) AND grades graph recall against its OWN exact graph — same
    // dump-and-recheck contract as q_lsh_recall.
    "q_knn_graph_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val pred = graphInit(s, dir)
      val dumped = LshQueries.dumpAndReload(s, pred,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/knn_graph")
      val gt = graphExact(s, dir)
      val recall = Eval.setPrecisionRecall(
          dumped.select(col("src").as("query_id"), col("dst").as("vec_id")),
          gt.select(col("src").as("query_id"), col("dst").as("vec_id")))
        .agg(round(avg("recall"), 4).as("graph_recall"),
          count(lit(1)).as("n_nodes"))
      val edgeStats = dumped
        .join(e.select(col("vec_id").as("src"), col("embedding").as("es")), "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("ed")), "dst")
        .select((round(exprs.cosineDistNative(col("es"), col("ed")), 6)
          =!= col("dist")).cast("long").as("bad"))
        .agg(count(lit(1)).as("n_edges"), sum("bad").as("bad_dist_edges"))
      recall.crossJoin(edgeStats)
    }),


    // NN-Descent refinement (Dong et al. WWW 2011) of the LSH k-NN
    // graph: neighbors-of-neighbors proposed as candidate edges, exact
    // distances on proposals only, per-node bounded top-k — never
    // all-pairs. Both the initial and the refined graph are dumped; the
    // DuckDB oracle grades BOTH against its own exact graph (the
    // recall lift is the cross-engine-verified claim) and recomputes
    // every refined edge's cosine (bad_dist_edges must be 0).
    "q_knn_graph_nnd" -> ((s, dir) => {
      val e = emb(s, dir)
      val init = graphInit(s, dir)
      val initDumped = LshQueries.dumpAndReload(s, init,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/knn_graph_nnd_init")
      val refined = graft.ann.NnDescent.refine(initDumped, e, "vec_id",
        "embedding", KnnK, ExactNN.Cosine, iterations = 2)
      val dumped = LshQueries.dumpAndReload(s, refined,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/knn_graph_nnd")
      val gt = graphExact(s, dir)
      def recallOf(g: DataFrame, as: String): DataFrame =
        Eval.setPrecisionRecall(
            g.select(col("src").as("query_id"), col("dst").as("vec_id")),
            gt.select(col("src").as("query_id"), col("dst").as("vec_id")))
          .agg(round(avg("recall"), 4).as(as))
      val edgeStats = dumped
        .join(e.select(col("vec_id").as("src"), col("embedding").as("es")), "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("ed")), "dst")
        .select((round(exprs.cosineDistNative(col("es"), col("ed")), 6)
          =!= col("dist")).cast("long").as("bad"))
        .agg(count(lit(1)).as("n_edges"), sum("bad").as("bad_dist_edges"))
      recallOf(initDumped, "recall_init")
        .crossJoin(recallOf(dumped, "recall_refined"))
        .crossJoin(edgeStats)
    }),


    // Mutual-kNN clustering: connected components over the edges BOTH
    // endpoints agree on, under a distance ceiling. Mutuality alone is
    // NOT enough on a near-iid corpus — measured: the unfiltered
    // mutual graph at k=5 percolates into ONE 493-node blob (mutual
    // k-NN percolation once k ~ ln n); the dist ceiling (below the
    // 0.62 background band) cuts it to the planted near-dup groups,
    // with mutuality the stricter both-endpoints-nominate rule vs the
    // plain pair threshold of q_near_dup_clusters. DuckDB re-derives
    // the graph, the mutual-and-close subset AND the transitive
    // closure (recursive CTE), so the whole chain is cross-engine.
    "q_mutual_knn_clusters" -> ((s, dir) => {
      mutualExactClusters(s, dir)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string"))).as("doc_ids"))
        .orderBy("cluster_id")
    }),


    // The clustering consumer CERTIFIED on the scale graph: the same
    // mutual + distance-ceiling + connected-components chain as
    // q_mutual_knn_clusters, but consuming the LSH-accelerated k-NN
    // graph (KnnGraph.fromLsh — the 100 TB path) instead of the exact
    // all-pairs one, graded at the CLUSTER level against the exact
    // clusters via co-clustered-pair precision/recall (the
    // recall-of-the-approximation pattern lifted from edges to
    // clusters). The LSH graph's mutual-close pairs are dumped with
    // their distances; DuckDB recomputes every dumped pair's cosine
    // AND the ceiling check (bad_dist_pairs must hash as 0), re-derives
    // clusters from the dumped pairs via a recursive CTE, re-derives
    // the EXACT clusters from raw embeddings, and replays the
    // agreement aggregates — so a wrong pair distance, a wrong closure,
    // or a wrong agreement number all hash-mismatch.
    "q_mutual_knn_clusters_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val g = graft.ann.KnnGraph.withMutual(graphInit(s, dir))
      val pairs = g.where(col("mutual") && col("src") < col("dst")
          && col("dist") <= MutualDistMax)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"), col("dist"))
      val dumped = LshQueries.dumpAndReload(s, pairs,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/mutual_lsh_pairs")
      // coalesce: an empty dump sums to NULL, the oracle's coalesce
      // yields 0 — the engines must agree on the no-pairs edge
      val bad = dumped
        .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), "doc_a")
        .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), "doc_b")
        .agg(coalesce(sum((round(exprs.cosineDistNative(col("ea"), col("eb")), 6)
          =!= col("dist") || col("dist") > MutualDistMax).cast("long")), lit(0L))
          .as("bad_dist_pairs"))
      val exC = mutualExactClusters(s, dir)
      // co-clustered pairs (the transitive closure as a pair relation) —
      // cluster-bounded self-joins, then one semi-join for the overlap.
      // The LSH-side CC loop (+ its co-pairs) and the exact side's
      // co-pairs are independent action chains — overlapped (§2.6).
      def co(c: DataFrame) = c
        .select(col("cluster_id"), col("doc_id").as("a"))
        .join(c.select(col("cluster_id"), col("doc_id").as("b")), "cluster_id")
        .where(col("a") < col("b"))
        .select("a", "b")
      val legs = inParallel(
        () => {
          val c = graft.text.Dedup.connectedComponents(
            dumped.select("doc_a", "doc_b"))
          (c, graft.text.Dedup.materializeRelease(co(c)))
        },
        () => (exC, graft.text.Dedup.materializeRelease(co(exC))))
      val (lshC, coL) = legs(0).asInstanceOf[(DataFrame, DataFrame)]
      val coE = legs(1).asInstanceOf[(DataFrame, DataFrame)]._2
      coL.agg(count(lit(1)).as("n_copairs_lsh"))
        .crossJoin(coE.agg(count(lit(1)).as("n_copairs_exact")))
        .crossJoin(coL.join(coE, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("hits")))
        .crossJoin(lshC.agg(countDistinct("cluster_id").as("n_clusters_lsh")))
        .crossJoin(exC.agg(countDistinct("cluster_id").as("n_clusters_exact")))
        .crossJoin(bad)
        .select(col("n_clusters_lsh"), col("n_clusters_exact"),
          col("n_copairs_lsh"), col("n_copairs_exact"),
          round(col("hits") / col("n_copairs_lsh"), 4).as("pair_precision"),
          round(col("hits") / col("n_copairs_exact"), 4).as("pair_recall"),
          col("bad_dist_pairs"))
    }),


    // Online insert under CORRECTNESS: the last 20 vec_ids play an
    // arriving batch against a graph built on the rest. The base graph
    // (LSH + NN-Descent + backbone) is dumped; DuckDB replays every
    // arriving vector's beam walk, the k-cut out-edges AND the capped
    // reverse links, emitting the identical delta edge set — the
    // graph-maintenance twin of the streaming codes-append oracles.
    "q_graph_insert" -> ((s, dir) => {
      val e = emb(s, dir)
      // per-sf cut: the LAST InsertTailCount ids arrive (see the knob
      // scaladoc — at sf0.01 this is the historical vec_id >= 480)
      val cut = SimilarityQueries.embMaxId(s, dir) + 1 - InsertTailCount
      val arriving = e.where(col("vec_id") >= cut)
      val existing = e.where(col("vec_id") < cut)
      // the base graph EXCLUDES the arriving ids, so it cannot reuse
      // the full-corpus builds above — but it is itself deterministic
      // and memoized: the stored-graph-serves-inserts pattern, built
      // once per (session, sf)
      val edges = memoized(s, dir, "graph_insert_base") {
        val idx = Lsh.train(existing, "vec_id", "embedding",
          LshConfig(nTrees = 10, kMinVecs = 80, angular = true, seed = 42L))
        val g0 = graft.ann.KnnGraph.fromLsh(idx, existing, "vec_id",
          "embedding", KnnK, ExactNN.Cosine, maxBucketOccupancy = 200)
        val g = graft.ann.NnDescent.refine(g0, existing, "vec_id",
          "embedding", KnnK, ExactNN.Cosine, iterations = 1)
        g.select(col("src"), col("dst")).unionByName(
            graft.ann.GraphSearch.randomBackbone(existing, "vec_id"))
          .dropDuplicates("src", "dst")
          .localCheckpoint()
      }
      val dumpedG = LshQueries.dumpAndReload(s, edges,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/beam_graph_ins")
      // base-edge dist is a sentinel: the insert delta's dists are all
      // computed by the walk; base rows never reach the output filter
      val gWithDist = dumpedG.withColumn("dist", lit(2.0))
      import s.implicits._
      val entries = arriving.select(col("vec_id").as("query_id"))
        .crossJoin((0L until InsertEntries).toDF("node"))
      graft.ann.GraphSearch.insert(gWithDist, existing, "vec_id",
          "embedding", arriving, KnnK, BeamWidth, BeamHops, entries,
          maxReverseDegree = InsertRevCap)
        .where(col("src") >= cut || col("dst") >= cut)
        .orderBy("src", "dst")
    }),


    // Beam search over the NN-Descent-refined LSH k-NN graph — the
    // search half of a graph-based ANN index (NSW-style layer-0 walk).
    // The graph is dumped; DuckDB replays the ENTIRE walk hop-for-hop
    // from the dumped edge list (entry set → BeamHops bounded
    // expand/score/cut rounds → final top-k), so the whole search
    // result is cross-engine recomputed, not just spot-verified.
    "q_graph_beam_search" -> ((s, dir) => {
      val e = emb(s, dir)
      // the backbone is unioned BEFORE dumping: the oracle walks
      // whatever edge list was dumped, so connectivity augmentation is
      // part of the cross-engine-verified graph
      val withBackbone = graphRefinedBackbone(s, dir)
      val dumpedG = LshQueries.dumpAndReload(s, withBackbone,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/beam_graph")
      graft.ann.GraphSearch.beam(dumpedG, e, "vec_id", "embedding",
          queriesDf(e), (0L until BeamEntries).toSeq, K, BeamWidth, BeamHops)
        .orderBy("query_id", "dist", "vec_id")
    }),


    // The SCALE form of the graph walk (GraphSearch.beamFrom scaladoc;
    // SCALE.md beam block: 32 global entries collapse to recall 0.018
    // at 100k×10k clusters, LSH-seeded entries restore 1.000 at
    // 23 ms/query): each query's entry set comes from the coarse LSH
    // probe, the walk refines it. BOTH the edge list and the per-query
    // entry sets are dumped, so DuckDB replays the identical walk from
    // the identical starting state — certifying the deployment-shaped
    // composition, not just the demo form.
    "q_graph_beam_seeded" -> ((s, dir) => {
      val e = emb(s, dir)
      val withBackbone = graphRefinedBackbone(s, dir)
      val q = queriesDf(e)
      // the graph dump and the (shared-build) entry dump are
      // independent legs — run them as concurrent jobs (guide §2.6)
      val dumped = inParallel(
        () => LshQueries.dumpAndReload(s, withBackbone,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/beam_graph_seeded"),
        () => LshQueries.dumpAndReload(s, graphEntries(s, dir),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/beam_entries"))
      val (dumpedG, dumpedE) = (dumped(0), dumped(1))
      graft.ann.GraphSearch.beamFrom(dumpedG, e, "vec_id", "embedding",
          q, dumpedE, K, BeamWidth, BeamHops)
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Serving under PENDING deletes (the FreshDiskANN rule,
    // arXiv:2105.09613 §4; GraphMaintainer.tombstones / GraphDeleteSpec):
    // walks still route THROUGH tombstoned nodes — cutting them from the
    // frontier would sever the paths they anchor until the next
    // consolidation — but the final k-cut filters them, so a deleted id
    // is never served. The tombstone set is rule-derived
    // (vec_id % TombstoneMod == 0, which tombstones query 0's and query
    // 50's own nearest neighbor — the exclusion provably binds), so the
    // DuckDB oracle replays the identical hop-for-hop walk from the
    // dumped edge list and applies the same final-cut filter.
    // The SCOPED graph store under the oracle: a maintainer with
    // scopedRefine=true absorbs one rule-derived batch (the tail-20
    // arrivals + the mod-50 deletes) and its scheduled TOUCHED-REGION
    // refine (supersede + replacement LSM rows — the base table is
    // never rewritten), then serves the standard 100-query beam from
    // the supersede-aware view with tombstone exclusion. Predictions
    // are dumped and graded against DuckDB's OWN exact cosine ground
    // truth over the live corpus (deleted ids excluded by the same
    // rule), so the whole scoped lifecycle — delta logging, local
    // consolidation, the serving view's supersede rule — sits under
    // CORRECTNESS, not only specs (the q_ivf_search_l2_distfit
    // pattern applied to round 13's other new engine path).
    "q_graph_scoped_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val m = scopedGraphStore(s, dir)
      // the serving view is base+delta+supersede JOINS re-evaluated per
      // walk hop — materialize it once (n×k rows, the graph itself);
      // dependency (the store) resolved before the memo lambda.
      // SYMMETRIZED in the memo: beamFrom's per-call symmetrize prep
      // (union + dropDuplicates over the full view — a scoped refine
      // can leave region-boundary edges one-directional, so the prep
      // is not a no-op) is the walk's own `undirected`, folded into
      // the one-time build so serves pass symmetrize = false and skip
      // the per-serve shuffle. Row-identical by construction: the
      // walk reads exactly the frame it would have computed.
      val g = memoized(s, dir, "scoped_graph_serving") {
        graft.ann.GraphSearch.undirected(m.servingEdges,
          symmetrize = true).localCheckpoint()
      }
      // the ACTIVE tombstone set re-derives from two LSM log reads +
      // an anti-join per action — it is stable once the store's one
      // batch landed, so materialize it once beside the serving view
      val tombs = memoized(s, dir, "scoped_tombstones") {
        m.tombstones.localCheckpoint()
      }
      import s.implicits._
      val entries = q.select(col("query_id"))
        .crossJoin((0L until BeamEntries).toDF("node"))
      // the live-corpus rule mirrors the STORE's delete rule exactly —
      // deletes apply only BELOW the tail cut, so a tail arrival whose
      // id happens to be a TombstoneMod multiple (possible at other
      // corpus sizes) stays live AND graded
      val nRows = SimilarityQueries.embCount(s, dir)
      // serve+dump ∥ the live-corpus exact GT (memo first touch)
      val legs = inParallel(
        () => LshQueries.dumpAndReload(s,
          graft.ann.GraphSearch.beamFrom(g, e, "vec_id",
            "embedding", q, entries, K, BeamWidth, BeamHops,
            symmetrize = false, excluded = Some(tombs)),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_scoped_recall"),
        () => memoized(s, dir, "exact_gt_cos_live") {
          ExactNN.topK(q,
              e.where(!(pmod(col("vec_id"), lit(TombstoneMod)) === 0 &&
                col("vec_id") < nRows - InsertTailCount)),
              K, ExactNN.Cosine)
            .localCheckpoint()
        })
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"), gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    "q_graph_delete_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val withBackbone = graphRefinedBackbone(s, dir)
      val dumpedG = LshQueries.dumpAndReload(s, withBackbone,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/beam_graph_del")
      import s.implicits._
      val q = queriesDf(e)
      val entries = q.select(col("query_id"))
        .crossJoin((0L until BeamEntries).toDF("node"))
      val tombs = e.where(pmod(col("vec_id"), lit(TombstoneMod)) === 0)
        .select(col("vec_id"))
      graft.ann.GraphSearch.beamFrom(dumpedG, e, "vec_id", "embedding",
          q, entries, K, BeamWidth, BeamHops, excluded = Some(tombs))
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Constrained graph serving (GraphSearch.beamFrom `allowed` — the
    // Filtered-DiskANN rule, arXiv:2211.12850 applied at serve time):
    // the walk routes through DISALLOWED nodes (they carry the graph's
    // navigability) while a per-hop bounded pool accumulates the best
    // k allowed nodes seen ANYWHERE along the walk — post-filtering
    // the final beam under-delivers exactly when the filter binds.
    // Membership is the label % 2 = 0 predicate (~50% selective, the
    // q_lsh_search_filtered twin) evaluated MAP-SIDE in the scoring
    // join — no allow-list materialization, no extra corpus pass.
    // Graded against DuckDB's OWN exact cosine ground truth over the
    // predicate subset (recallOracle corpusWhere), so both the pool's
    // correctness and the walk's filtered recall sit under the oracle.
    "q_graph_filtered_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val g = graphRefinedBackbone(s, dir)
      val entries = graphEntries(s, dir)
      // walk+dump and the filtered exact GT are independent legs —
      // overlap them (the GT otherwise evaluates serially inside the
      // final grading action)
      val legs = inParallel(
        () => LshQueries.dumpAndReload(s,
          graft.ann.GraphSearch.beamFrom(g, e, "vec_id", "embedding", q,
            entries, K, BeamWidth, BeamHops,
            allowed = Some(col("label") % 2 === 0)),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_filtered_recall"),
        () => ExactNN.topK(q, e.where(col("label") % 2 === 0), K,
          ExactNN.Cosine).localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"), gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    // Selectivity dispatch for the graph family
    // (GraphSearch.beamFromFiltered / FilteredSearch — the
    // q_lsh_search_filtered_selective twin): a 2% allow-list
    // (vec_id % 50 = 0, under the 5% cutoff at every sf) BINDS the
    // exact-scan path, so recall vs DuckDB's own filtered exact ground
    // truth must be EXACTLY 1.0 — any walk-path leakage or subset
    // mis-scan breaks the hash.
    "q_graph_filtered_selective" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val g = graphRefinedBackbone(s, dir)
      val entries = graphEntries(s, dir)
      // dispatch+serve+dump and the filtered exact GT overlapped (the
      // q_graph_filtered_recall form)
      val legs = inParallel(
        () => LshQueries.dumpAndReload(s,
          graft.ann.GraphSearch.beamFromFiltered(g, e, "vec_id", "embedding",
            q, entries, K, BeamWidth, BeamHops,
            allowed = pmod(col("vec_id"), lit(50)) === 0,
            metric = ExactNN.Cosine),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_filtered_selective"),
        () => ExactNN.topK(q,
          e.where(pmod(col("vec_id"), lit(50)) === 0), K, ExactNN.Cosine)
          .localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"), gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    // Filter-AWARE graph construction under the oracle
    // (KnnGraph.labelAware — the FilteredDiskANN build-time idea,
    // arXiv:2211.12850, as the round-16 ONE-CALL builder the
    // walk_starved warning names): the serving graph is augmented with
    // same-label k-NN edges (derived from the SAME LSH bucket join the
    // base graph used — no second forest) and a per-label connectivity
    // ring, the walk starts from filter-aware seeds (the LSH probe
    // restricted to the allowed subset), and a ~22%-selective
    // `label IN (3, 4)` predicate constrains serving — deliberately
    // ABOVE the 15% auto-exact ceiling, i.e. the STARVED-LARGE regime
    // where the density dispatch can only warn (walk_starved) and
    // label-aware construction is the prescribed remediation. Recall
    // is graded against DuckDB's own exact cosine GT over the label
    // subset, certifying the build-time answer end to end exactly
    // where no serve-time dispatch can help.
    "q_graph_filtered_labeled" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = graphLshIndex(s, dir)
      val base = graphRefinedBackbone(s, dir)
      val allowed = col("label").isin(3, 4)
      val aug = memoized(s, dir, "graph_label_aug") {
        graft.ann.KnnGraph.labelAware(idx, e, "vec_id", "embedding",
            "label", KnnK, ExactNN.Cosine, maxBucketOccupancy = 200,
            base = Some(base))
          .localCheckpoint()
      }
      val entries = idx.searchAll(q, BeamWidth, Double.MaxValue,
          ExactNN.Cosine, allowed = Some(e.where(allowed).select("vec_id")))
        .select(col("query_id"), col("vec_id").as("node"))
      // seeded walk+dump ∥ the label-subset exact GT (the
      // q_graph_filtered_recall form)
      val legs = inParallel(
        () => LshQueries.dumpAndReload(s,
          graft.ann.GraphSearch.beamFrom(aug, e, "vec_id", "embedding", q,
            entries, K, BeamWidth, BeamHops, ExactNN.Cosine,
            allowed = Some(allowed)),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_filtered_labeled"),
        () => ExactNN.topK(q, e.where(allowed), K, ExactNN.Cosine)
          .localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"), gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    // Density-aware filtered dispatch under the oracle
    // (GraphSearch.filteredDecision / beamFromFiltered over
    // FilteredSearch.route — the round-15 answer to the measured 1M
    // collapse where a 10%-selective filter starves local
    // neighborhoods and the walk silently serves 0.22 recall): two
    // predicate arms cross the density boundary — ~50% (locally dense
    // → route `walk`) and ~10% (locally starved → route
    // `exact_density`). The estimator's inputs (entry sets, walk
    // graph) and every arm's predictions are dumped; DuckDB recomputes
    // the corpus/allowed counts, RE-DERIVES the median local-allowed
    // density from the dumps (entry ∪ one-hop candidates, top-BeamWidth
    // by the same rounded distance/ties, allowed counted, exact median),
    // replays the routing rule, and grades each arm's recall vs its own
    // filtered exact ground truth — the whole dispatch decision
    // cross-engine, the way q_autotune_* rows pin tuning decisions.
    "q_graph_filtered_auto" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val g = graphRefinedBackbone(s, dir)
      // the two oracle-input dumps are independent legs — overlap them
      // (guide §2.6); the entry set itself is the shared build
      val dumps = inParallel(
        () => LshQueries.dumpAndReload(s, graphEntries(s, dir),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_auto_entries"),
        () => LshQueries.dumpAndReload(s, g,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_auto_edges"))
      val (entries, gDumped) = (dumps(0), dumps(1))
      val arms = FilteredAutoArms.map { case (name, mod, rem) =>
        (name, pmod(col("vec_id"), lit(mod)) === rem)
      }
      // ONE corpus aggregate for every arm's (corpus, allowed) counts —
      // filteredDecision otherwise pays a counts pass per arm (guide
      // §2.3: aggregate once, reuse), threaded via knownCounts
      val cntCols = arms.zipWithIndex.map { case ((_, pred), i) =>
        count(when(pred, lit(1))).as(s"a$i")
      }
      val cntRow = e.agg(count(lit(1)).as("c"), cntCols: _*).head()
      val nCorpus = cntRow.getLong(0)
      // decision computed ONCE per arm, then its route executed
      // directly — row-identical to beamFromFiltered by construction
      // (each route IS one of these two serves; the identity is
      // spec-pinned, GraphFilteredDispatchSpec) but without paying the
      // counts pass + density estimator a second time. The exact
      // subset scan doubles as the arm's ground truth (recall 1.0 by
      // construction on exact routes — exactly the dispatch's claim).
      // The arms are independent decision+serve chains of tiny stages —
      // run them as concurrent jobs (the q_autotune_graph_beam form).
      val results = inParallel(arms.zipWithIndex.map {
        case ((name, pred), i) => () => {
          // the decision's estimator .head() and the exact scan's
          // checkpoint are themselves independent actions — overlap
          val legs = inParallel(
            () => graft.ann.GraphSearch.filteredDecision(gDumped, e,
              "vec_id", "embedding", q, entries, K, BeamWidth, pred,
              ExactNN.Cosine,
              knownCounts = Some((nCorpus, cntRow.getLong(i + 1)))),
            () => ExactNN.topK(q,
                e.where(pred).select(col("vec_id"), col("embedding")), K,
                ExactNN.Cosine)
              .localCheckpoint())
          val d = legs(0).asInstanceOf[graft.ann.FilteredSearch.Decision]
          val exactSubset = legs(1).asInstanceOf[DataFrame]
          val res =
            (if (d.route.exact) exactSubset
             else graft.ann.GraphSearch.beamFrom(gDumped, e, "vec_id",
               "embedding", q, entries, K, BeamWidth, BeamHops,
               ExactNN.Cosine, allowed = Some(pred)))
              .withColumn("arm", lit(name))
          (name, d, res, exactSubset)
        }
      }: _*)
      val preds = LshQueries.dumpAndReload(s,
        results.map(_._3).reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/graph_auto_preds")
      import s.implicits._
      val decisions = results.map { case (name, d, _, _) =>
        (name, d.corpusCount, d.allowedCount,
          BigDecimal(d.medianLocalAllowed.getOrElse(-1.0))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          d.route.name)
      }.toDF("arm", "corpus_n", "allowed_n", "median_local_allowed",
        "route")
      val recalls = results.map { case (name, _, _, gt) =>
        Eval.setPrecisionRecall(
            preds.where(col("arm") === name).select("query_id", "vec_id"),
            gt.select("query_id", "vec_id"))
          .agg(round(avg("recall"), 4).as("avg_recall"),
            count(lit(1)).as("n_queries"))
          .withColumn("arm", lit(name))
      }.reduce(_ unionByName _)
      decisions.join(recalls, "arm").orderBy("arm")
    }),


    // The constrained tuning knob under the oracle — completes the
    // tuning matrix's filtered edge (verdict r14 #3): four
    // maxExactFraction arms (percent values) swept over the fixed
    // ~10%-selective predicate with the selectivity-only rule (density
    // dispatch off: the cutoff itself is the knob under sweep). The
    // two serve paths the cutoff can pick are computed ONCE each (the
    // shared-scan sweep form — row-identical to per-arm
    // beamFromFiltered, GraphFilteredDispatchSpec); every arm's
    // predictions land in one dump, per-arm recall is graded GT-side
    // vs the exact ground truth over the PREDICATE SUBSET, and the
    // cheapest-arm-meeting-target rule picks the operating point.
    // DuckDB recomputes its own filtered GT, re-derives each arm's
    // recall from the dump, and replays the choice — the whole
    // constrained operating-point decision cross-engine.
    "q_autotune_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val g = graphRefinedBackbone(s, dir)
      val pred = pmod(col("vec_id"), lit(10)) === 3
      val entries = graphEntries(s, dir)
      val counts = e.agg(count(lit(1)).as("c"),
        count(when(pred, lit(1))).as("a")).head()
      val (nCorpus, nAllowed) = (counts.getLong(0), counts.getLong(1))
      // the walk (eager — beamFrom materializes its result) and the
      // exact scan are independent legs — overlap them (guide §2.6);
      // the exact serve IS the ground truth (same subset, same k, same
      // metric), one scan serving both the exact arms and the grading
      val legs = inParallel(
        () => graft.ann.GraphSearch.beamFrom(g, e, "vec_id",
          "embedding", q, entries, K, BeamWidth, BeamHops, ExactNN.Cosine,
          allowed = Some(pred)),
        () => ExactNN.topK(q,
            e.where(pred).select(col("vec_id"), col("embedding")), K,
            ExactNN.Cosine)
          .localCheckpoint())
      val (walk, exact) = (legs(0), legs(1))
      val armFrames = FilteredCutoffArms.map { a =>
        val serve =
          if (graft.ann.FilteredSearch.useExactScan(nAllowed, nCorpus,
            a / 100.0)) exact
          else walk
        serve.withColumn("arm", lit(a))
      }
      val reloaded = LshQueries.dumpAndReload(s,
        armFrames.reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/autotune_filtered_arms")
      graft.ann.AutoTune.gradeArms(FilteredCutoffArms, reloaded, exact,
          AutoTuneTarget)
        .orderBy("arm")
    }),
  )

  override def oracleSql: Map[String, String] = Map(

    // Scoped-store serving graded against DuckDB's own exact cosine GT
    // over the live corpus (the rule-derived mod-50 deletes excluded;
    // the tail-20 arrivals are embeddings rows, so they're in the
    // corpus by construction) — recallOracle mirrors
    // Eval.setPrecisionRecall's join shapes exactly.
    "q_graph_scoped_recall" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/graph_scoped_recall/*.parquet",
      LshQueries.CosineDistSql, None, K,
      corpusWhere =
        s"WHERE NOT (vec_id % $TombstoneMod = 0 AND vec_id < $InsertFrom)"),


    // Constrained walk graded against DuckDB's own exact cosine GT over
    // the ~50% predicate subset — the pool's recall, cross-engine.
    "q_graph_filtered_recall" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/graph_filtered_recall/*.parquet",
      LshQueries.CosineDistSql, None, K,
      corpusWhere = "WHERE label % 2 = 0"),


    // Selective dispatch: exact-scan path over the 2% subset — recall
    // vs DuckDB's own filtered GT must be exactly 1.0.
    "q_graph_filtered_selective" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/graph_filtered_selective/*.parquet",
      LshQueries.CosineDistSql, None, K,
      corpusWhere = "WHERE vec_id % 50 = 0"),


    // Filter-aware construction: augmented-walk recall vs DuckDB's own
    // exact cosine GT over the ~22% label subset (label IN (3, 4) —
    // above the 15% auto-exact ceiling, the regime the builder exists
    // for).
    "q_graph_filtered_labeled" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/graph_filtered_labeled/*.parquet",
      LshQueries.CosineDistSql, None, K,
      corpusWhere = "WHERE label IN (3, 4)"),


    // Density-aware dispatch: DuckDB recomputes the corpus/allowed
    // counts, re-derives the median local-allowed density from the
    // dumped entries + edge list (entry ∪ one-hop candidates,
    // top-BeamWidth by the same rounded distance and (dist, node)
    // ties, allowed counted per query, exact interpolated median),
    // replays FilteredSearch.route as a CASE, and grades each arm's
    // predictions vs its own filtered exact GT.
    "q_graph_filtered_auto" -> filteredAutoOracleSql,


    // Graph-beam sweep: identical decision replay, cosine GT.
    "q_autotune_graph_beam" -> autotuneOracleSql(
      "autotune_beam_arms", GraphBeamArms, GraphBeamTarget,
      beamCos("qs.qv", "e.embedding::DOUBLE[]")),


    // Constrained cutoff sweep: the same decision replay, with the
    // ground truth computed over the PREDICATE SUBSET (DuckDB's own
    // filtered exact GT) — arms below the predicate's 10% selectivity
    // carry walk predictions, arms at/above it the exact scan's.
    "q_autotune_filtered" -> autotuneOracleSql(
      "autotune_filtered_arms", FilteredCutoffArms, AutoTuneTarget,
      beamCos("qs.qv", "e.embedding::DOUBLE[]"),
      corpusWhere = "WHERE vec_id % 10 = 3"),


    // Full cross-engine recompute of the exact k-NN graph: all-pairs
    // cosine, per-node top-k with (dist, dst) ties, mutual flag via a
    // self-join of DuckDB's own graph.
    "q_knn_graph" ->
      s"""WITH sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |),
         |g AS (
         |  SELECT src, dst, dist FROM (
         |    SELECT src, dst, dist,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM sc
         |  ) WHERE rn <= $KnnK
         |)
         |SELECT g.src, g.dst, g.dist, (r.src IS NOT NULL) AS mutual
         |FROM g LEFT JOIN g r ON r.src = g.dst AND r.dst = g.src
         |ORDER BY g.src, g.dist, g.dst""".stripMargin,


    // LSH k-NN graph: every dumped edge's cosine recomputed from the
    // raw embeddings (bad_dist_edges = 0 or the hash mismatches) and
    // graph recall graded against DuckDB's own exact graph.
    "q_knn_graph_lsh" ->
      s"""WITH p AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/knn_graph/*.parquet')
         |),
         |sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |),
         |gt AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM sc
         |  ) WHERE rn <= $KnnK
         |),
         |ng AS (SELECT src AS query_id, count(*) AS n_gt FROM gt GROUP BY src),
         |np AS (SELECT src AS query_id, count(*) AS n_pred FROM p GROUP BY src),
         |h AS (
         |  SELECT p.src AS query_id, count(*) AS valid
         |  FROM p JOIN gt ON gt.src = p.src AND gt.dst = p.dst
         |  GROUP BY p.src
         |),
         |rec AS (
         |  SELECT round(avg(round(coalesce(h.valid, 0) / ng.n_gt, 6)), 4) AS graph_recall,
         |         count(*) AS n_nodes
         |  FROM np JOIN ng USING (query_id) LEFT JOIN h USING (query_id)
         |),
         |ed AS (
         |  SELECT count(*) AS n_edges,
         |    sum(CASE WHEN round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |                  THEN 0.0
         |                  ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) <> p.dist
         |             THEN 1 ELSE 0 END)::BIGINT AS bad_dist_edges
         |  FROM p
         |  JOIN embeddings a ON a.vec_id = p.src
         |  JOIN embeddings b ON b.vec_id = p.dst
         |)
         |SELECT rec.graph_recall, rec.n_nodes, ed.n_edges, ed.bad_dist_edges
         |FROM rec, ed""".stripMargin,


    // NN-Descent: DuckDB grades BOTH dumped graphs (initial LSH, refined)
    // against its own exact graph — the recall lift is the cross-engine
    // claim — and recomputes every refined edge's cosine.
    "q_knn_graph_nnd" ->
      s"""WITH pi AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/knn_graph_nnd_init/*.parquet')
         |),
         |pr AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/knn_graph_nnd/*.parquet')
         |),
         |sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |),
         |gt AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM sc
         |  ) WHERE rn <= $KnnK
         |),
         |ng AS (SELECT src AS query_id, count(*) AS n_gt FROM gt GROUP BY src),
         |ri AS (
         |  SELECT round(avg(round(coalesce(h.valid, 0) / ng.n_gt, 6)), 4) AS recall_init
         |  FROM (SELECT src AS query_id FROM pi GROUP BY src) np
         |  JOIN ng USING (query_id)
         |  LEFT JOIN (
         |    SELECT pi.src AS query_id, count(*) AS valid
         |    FROM pi JOIN gt ON gt.src = pi.src AND gt.dst = pi.dst
         |    GROUP BY pi.src
         |  ) h USING (query_id)
         |),
         |rr AS (
         |  SELECT round(avg(round(coalesce(h.valid, 0) / ng.n_gt, 6)), 4) AS recall_refined
         |  FROM (SELECT src AS query_id FROM pr GROUP BY src) np
         |  JOIN ng USING (query_id)
         |  LEFT JOIN (
         |    SELECT pr.src AS query_id, count(*) AS valid
         |    FROM pr JOIN gt ON gt.src = pr.src AND gt.dst = pr.dst
         |    GROUP BY pr.src
         |  ) h USING (query_id)
         |),
         |ed AS (
         |  SELECT count(*) AS n_edges,
         |    sum(CASE WHEN round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |                  THEN 0.0
         |                  ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) <> pr.dist
         |             THEN 1 ELSE 0 END)::BIGINT AS bad_dist_edges
         |  FROM pr
         |  JOIN embeddings a ON a.vec_id = pr.src
         |  JOIN embeddings b ON b.vec_id = pr.dst
         |)
         |SELECT ri.recall_init, rr.recall_refined, ed.n_edges, ed.bad_dist_edges
         |FROM ri, rr, ed""".stripMargin,


    // Mutual-kNN clusters: DuckDB re-derives the exact graph, the
    // mutual-edge subset, and the transitive closure.
    "q_mutual_knn_clusters" ->
      s"""WITH RECURSIVE sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |),
         |g AS (
         |  SELECT src, dst, dist FROM (
         |    SELECT src, dst, dist,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM sc
         |  ) WHERE rn <= $KnnK
         |),
         |pairs AS (
         |  SELECT g.src AS doc_a, g.dst AS doc_b
         |  FROM g JOIN g r ON r.src = g.dst AND r.dst = g.src
         |  WHERE g.src < g.dst AND g.dist <= $MutualDistMax
         |),
         |nodes AS (SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT d, d FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT cluster_id, count(*) AS n_docs,
         |       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
         |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,


    // Scale-graph clustering certification: DuckDB re-checks every
    // dumped LSH mutual-close pair's cosine + ceiling, re-derives the
    // LSH clusters from the dump and the EXACT clusters from raw
    // embeddings (two recursive closures), and replays the
    // co-clustered-pair agreement aggregates.
    "q_mutual_knn_clusters_lsh" ->
      s"""WITH RECURSIVE sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    ${beamCos("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} AS dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |),
         |g AS (
         |  SELECT src, dst, dist FROM (
         |    SELECT src, dst, dist,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM sc
         |  ) WHERE rn <= $KnnK
         |),
         |epairs AS (
         |  SELECT g.src AS doc_a, g.dst AS doc_b
         |  FROM g JOIN g r ON r.src = g.dst AND r.dst = g.src
         |  WHERE g.src < g.dst AND g.dist <= $MutualDistMax
         |),
         |enodes AS (SELECT doc_a AS d FROM epairs UNION SELECT doc_b FROM epairs),
         |eedges AS (SELECT doc_a AS a, doc_b AS b FROM epairs
         |           UNION SELECT doc_b, doc_a FROM epairs),
         |ereach(a, b) AS (
         |  SELECT d, d FROM enodes
         |  UNION
         |  SELECT r.a, e.b FROM ereach r JOIN eedges e ON r.b = e.a
         |),
         |ecomp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM ereach GROUP BY a),
         |dp AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/mutual_lsh_pairs/*.parquet')
         |),
         |bad AS (
         |  SELECT coalesce(sum(CASE WHEN
         |      abs(${beamCos("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")} - dp.dist) > 1e-9
         |      OR dp.dist > $MutualDistMax THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS bad_dist_pairs
         |  FROM dp
         |  JOIN embeddings ea ON ea.vec_id = dp.doc_a
         |  JOIN embeddings eb ON eb.vec_id = dp.doc_b
         |),
         |lnodes AS (SELECT doc_a AS d FROM dp UNION SELECT doc_b FROM dp),
         |ledges AS (SELECT doc_a AS a, doc_b AS b FROM dp
         |           UNION SELECT doc_b, doc_a FROM dp),
         |lreach(a, b) AS (
         |  SELECT d, d FROM lnodes
         |  UNION
         |  SELECT r.a, e.b FROM lreach r JOIN ledges e ON r.b = e.a
         |),
         |lcomp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM lreach GROUP BY a),
         |coe AS (
         |  SELECT e1.doc_id AS a, e2.doc_id AS b
         |  FROM ecomp e1 JOIN ecomp e2
         |    ON e2.cluster_id = e1.cluster_id AND e1.doc_id < e2.doc_id
         |),
         |colsh AS (
         |  SELECT l1.doc_id AS a, l2.doc_id AS b
         |  FROM lcomp l1 JOIN lcomp l2
         |    ON l2.cluster_id = l1.cluster_id AND l1.doc_id < l2.doc_id
         |),
         |agg AS (
         |  SELECT (SELECT count(*) FROM colsh) AS n_copairs_lsh,
         |         (SELECT count(*) FROM coe) AS n_copairs_exact,
         |         (SELECT count(*) FROM colsh JOIN coe USING (a, b)) AS hits,
         |         (SELECT count(DISTINCT cluster_id) FROM lcomp) AS n_clusters_lsh,
         |         (SELECT count(DISTINCT cluster_id) FROM ecomp) AS n_clusters_exact
         |)
         |SELECT n_clusters_lsh, n_clusters_exact, n_copairs_lsh,
         |       n_copairs_exact,
         |       round(hits / n_copairs_lsh, 4) AS pair_precision,
         |       round(hits / n_copairs_exact, 4) AS pair_recall,
         |       bad.bad_dist_pairs
         |FROM agg, bad""".stripMargin,


    // Online insert: full replay of every arriving vector's walk plus
    // the out-edge cut and capped reverse links (see insertWalkSql).
    "q_graph_insert" -> insertWalkSql("beam_graph_ins"),


    // Beam search: full hop-for-hop replay of the graph walk from the
    // dumped edge list (same rounding, same (dist, node) ties).
    "q_graph_beam_search" -> beamWalkSql(
      "beam_graph",
      s"""b0 AS (
         |  SELECT query_id, node, dist FROM (
         |    SELECT qs.query_id, e.vec_id AS node,
         |      ${beamCos("qs.qv", "e.embedding::DOUBLE[]")} AS dist,
         |      row_number() OVER (PARTITION BY qs.query_id
         |        ORDER BY ${beamCos("qs.qv", "e.embedding::DOUBLE[]")}, e.vec_id) AS rn
         |    FROM qs JOIN embeddings e ON e.vec_id < $BeamEntries
         |  ) WHERE rn <= $BeamWidth
         |)""".stripMargin),


    // Seeded (scale-form) beam walk: b0 scores the DUMPED per-query LSH
    // entry sets instead of global entries — same hops, same ties.
    "q_graph_beam_seeded" -> beamWalkSql(
      "beam_graph_seeded",
      s"""en AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/beam_entries/*.parquet')
         |),
         |b0 AS (
         |  SELECT query_id, node, dist FROM (
         |    SELECT en.query_id, en.node,
         |      ${beamCos("qs.qv", "e.embedding::DOUBLE[]")} AS dist,
         |      row_number() OVER (PARTITION BY en.query_id
         |        ORDER BY ${beamCos("qs.qv", "e.embedding::DOUBLE[]")}, en.node) AS rn
         |    FROM en
         |    JOIN embeddings e ON e.vec_id = en.node
         |    JOIN qs ON qs.query_id = en.query_id
         |  ) WHERE rn <= $BeamWidth
         |)""".stripMargin),


    // Serving under pending deletes: the identical hop-for-hop walk
    // replay over the q_graph_delete_serve dump, with the rule-derived
    // tombstone set (vec_id ≡ 0 mod TombstoneMod) filtered at the FINAL
    // cut only — the FreshDiskANN route-through/never-serve rule.
    "q_graph_delete_serve" -> beamWalkSql(
      "beam_graph_del",
      s"""b0 AS (
         |  SELECT query_id, node, dist FROM (
         |    SELECT qs.query_id, e.vec_id AS node,
         |      ${beamCos("qs.qv", "e.embedding::DOUBLE[]")} AS dist,
         |      row_number() OVER (PARTITION BY qs.query_id
         |        ORDER BY ${beamCos("qs.qv", "e.embedding::DOUBLE[]")}, e.vec_id) AS rn
         |    FROM qs JOIN embeddings e ON e.vec_id < $BeamEntries
         |  ) WHERE rn <= $BeamWidth
         |)""".stripMargin,
      servedPred = s"node % $TombstoneMod <> 0"),
  )

  /** DuckDB cosine-distance fragment shared by the beam-walk oracles. */
  private def beamCos(a: String, b: String): String =
    s"""round(CASE WHEN 1.0 - list_cosine_similarity($a, $b) < 1e-6
       |      THEN 0.0
       |      ELSE 1.0 - list_cosine_similarity($a, $b) END, 6)""".stripMargin

  /** `q_graph_filtered_auto`'s decision-replay SQL: the density-aware
    * routing rule ([[graft.ann.FilteredSearch.route]]) re-derived
    * end-to-end by DuckDB — counts from the embeddings table, the
    * median local-allowed estimate from the dumped entry sets + edge
    * list (the same entry ∪ one-hop candidate set, the same rounded
    * cosine and (dist, node) tie order, top-BeamWidth cut, exact
    * interpolated median), the route CASE mirroring the Scala rule's
    * cutoffs, and per-arm recall graded vs DuckDB's own filtered exact
    * GT with [[LshQueries.recallOracle]]'s join shapes. */
  private def filteredAutoOracleSql: String = {
    val dump = s"${LshQueries.SearchDumpRoot}/sf0.01"
    val cos = beamCos("qs.qv", "e.embedding::DOUBLE[]")
    // per-arm fragments, indexed to keep CTE names stable
    val armDefs = FilteredAutoArms.zipWithIndex.map {
      case ((name, mod, rem), i) => (name, s"vec_id % $mod = $rem", i)
    }
    val okCols = armDefs.map { case (_, pred, i) =>
      s"e.$pred AS ok_a$i" }.mkString(",\n    ")
    val laCols = armDefs.map { case (_, _, i) =>
      s"count(*) FILTER (WHERE ok_a$i) AS la_a$i" }.mkString(",\n    ")
    val medCols = armDefs.map { case (_, _, i) =>
      s"round(quantile_cont(la_a$i, 0.5), 4) AS m_a$i" }.mkString(",\n    ")
    val cntCols = armDefs.map { case (_, pred, i) =>
      s"(count(*) FILTER (WHERE $pred))::BIGINT AS a_a$i" }
      .mkString(",\n    ")
    val recallCtes = armDefs.map { case (name, pred, i) =>
      s"""sc$i AS (
         |  SELECT qs.query_id, e.vec_id, $cos AS dist
         |  FROM qs CROSS JOIN (SELECT * FROM embeddings WHERE $pred) e
         |),
         |gt$i AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |    FROM sc$i
         |  ) WHERE rn <= $K
         |),
         |p$i AS (SELECT query_id, vec_id FROM preds WHERE arm = '$name'),
         |np$i AS (SELECT query_id, count(*) AS n_pred FROM p$i GROUP BY query_id),
         |ng$i AS (SELECT query_id, count(*) AS n_gt FROM gt$i GROUP BY query_id),
         |h$i AS (
         |  SELECT p$i.query_id, count(*) AS valid
         |  FROM p$i JOIN gt$i USING (query_id, vec_id) GROUP BY p$i.query_id
         |),
         |r$i AS (
         |  SELECT round(avg(round(coalesce(h$i.valid, 0) / ng$i.n_gt, 6)), 4)
         |           AS avg_recall,
         |         count(*) AS n_queries
         |  FROM np$i JOIN ng$i USING (query_id)
         |  LEFT JOIN h$i USING (query_id)
         |)""".stripMargin
    }.mkString(",\n")
    val maxExact = graft.ann.FilteredSearch.DefaultMaxExactFraction
    val maxAuto = graft.ann.FilteredSearch.DefaultMaxAutoExactFraction
    val armRows = armDefs.map { case (name, _, i) =>
      s"""  SELECT '$name' AS arm, cnts.corpus_n, cnts.a_a$i AS allowed_n,
         |    med.m_a$i AS median_local_allowed,
         |    CASE WHEN cnts.a_a$i <= $maxExact * cnts.corpus_n
         |           THEN 'exact_selectivity'
         |         WHEN med.m_a$i >= $K THEN 'walk'
         |         WHEN cnts.a_a$i <= $maxAuto * cnts.corpus_n
         |           THEN 'exact_density'
         |         ELSE 'walk_starved' END AS route,
         |    r$i.avg_recall, r$i.n_queries
         |  FROM cnts, med, r$i""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH g AS (
       |  SELECT * FROM read_parquet('$dump/graph_auto_edges/*.parquet')
       |),
       |und AS (
       |  SELECT src, dst FROM g UNION SELECT dst, src FROM g
       |),
       |qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |en AS (
       |  SELECT query_id, node
       |  FROM read_parquet('$dump/graph_auto_entries/*.parquet')
       |),
       |preds AS (
       |  SELECT arm, query_id, vec_id
       |  FROM read_parquet('$dump/graph_auto_preds/*.parquet')
       |),
       |cand AS (
       |  SELECT DISTINCT query_id, node FROM (
       |    SELECT query_id, node FROM en
       |    UNION ALL
       |    SELECT en.query_id, u.dst AS node FROM en JOIN und u ON u.src = en.node
       |  )
       |),
       |sc AS (
       |  SELECT c.query_id, c.node,
       |    $okCols,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY $cos, c.node) AS rn
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.node
       |  JOIN qs ON qs.query_id = c.query_id
       |),
       |la AS (
       |  SELECT qs.query_id,
       |    $laCols
       |  FROM qs LEFT JOIN (SELECT * FROM sc WHERE rn <= $BeamWidth) s
       |    ON s.query_id = qs.query_id
       |  GROUP BY qs.query_id
       |),
       |med AS (
       |  SELECT
       |    $medCols
       |  FROM la
       |),
       |cnts AS (
       |  SELECT count(*)::BIGINT AS corpus_n,
       |    $cntCols
       |  FROM embeddings
       |),
       |$recallCtes
       |SELECT arm, corpus_n, allowed_n, median_local_allowed, route,
       |       avg_recall, n_queries
       |FROM (
       |$armRows
       |) ORDER BY arm""".stripMargin
  }

  /** Full beam-walk replay SQL: dumped edge list at `graphDir`, initial
    * beam supplied by `b0Sql` (which may reference the shared `qs` and
    * `und` CTEs), then BeamHops expand/score/cut rounds and the final
    * top-K — the (dist, node) tie rule of the Spark TopK tail at every
    * cut. */
  /** The BeamHops expand/score/cut CTE chain (b0 -> b$BeamHops),
    * shared by every walk-replay oracle. */
  private def beamHopsFrag: String =
    (1 to BeamHops).map { h =>
      s"""c$h AS (
         |  SELECT DISTINCT b.query_id, u.dst AS node
         |  FROM b${h - 1} b JOIN und u ON u.src = b.node
         |  UNION
         |  SELECT query_id, node FROM b${h - 1}
         |),
         |b$h AS (
         |  SELECT query_id, node, dist FROM (
         |    SELECT c.query_id, c.node,
         |      ${beamCos("qs.qv", "e.embedding::DOUBLE[]")} AS dist,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ${beamCos("qs.qv", "e.embedding::DOUBLE[]")}, c.node) AS rn
         |    FROM c$h c
         |    JOIN embeddings e ON e.vec_id = c.node
         |    JOIN qs ON qs.query_id = c.query_id
         |  ) WHERE rn <= $BeamWidth
         |)""".stripMargin
    }.mkString(",\n")

  /** `servedPred` filters the FINAL beam before the top-K cut — the
    * replay of beamFrom's `excluded` tombstone rule (walks route
    * through excluded nodes on every hop; only the served cut drops
    * them). Default TRUE = no exclusion. */
  private def beamWalkSql(graphDir: String, b0Sql: String,
                          servedPred: String = "TRUE"): String =
    s"""WITH g AS (
       |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/$graphDir/*.parquet')
       |),
       |und AS (
       |  SELECT src, dst FROM g UNION SELECT dst, src FROM g
       |),
       |qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |$b0Sql,
       |$beamHopsFrag
       |SELECT query_id, node AS vec_id, dist FROM (
       |  SELECT query_id, node, dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist, node) AS rn
       |  FROM b$BeamHops WHERE $servedPred
       |) WHERE rn <= $K
       |ORDER BY query_id, dist, vec_id""".stripMargin

  /** Replay of [[graft.ann.GraphSearch.insert]]: the same beam walk for
    * each ARRIVING vector (qs = the InsertFrom..500 ids, entries = the
    * InsertEntries lowest existing ids), k-cut out-edges, then the
    * capped reverse links (top-InsertRevCap per existing node, (dist,
    * new-id) ties) — emitting the DELTA edge set insert adds. */
  private def insertWalkSql(graphDir: String): String =
    s"""WITH g AS (
       |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/$graphDir/*.parquet')
       |),
       |und AS (
       |  SELECT src, dst FROM g UNION SELECT dst, src FROM g
       |),
       |qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id >= $InsertFrom
       |),
       |b0 AS (
       |  SELECT query_id, node, dist FROM (
       |    SELECT qs.query_id, e.vec_id AS node,
       |      ${beamCos("qs.qv", "e.embedding::DOUBLE[]")} AS dist,
       |      row_number() OVER (PARTITION BY qs.query_id
       |        ORDER BY ${beamCos("qs.qv", "e.embedding::DOUBLE[]")}, e.vec_id) AS rn
       |    FROM qs JOIN embeddings e ON e.vec_id < $InsertEntries
       |  ) WHERE rn <= $BeamWidth
       |),
       |$beamHopsFrag,
       |outv AS (
       |  SELECT query_id AS src, node AS dst, dist FROM (
       |    SELECT query_id, node, dist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, node) AS rn
       |    FROM b$BeamHops
       |  ) WHERE rn <= $KnnK
       |),
       |rev AS (
       |  SELECT dst AS src, src AS dst, dist FROM (
       |    SELECT src, dst, dist,
       |      row_number() OVER (PARTITION BY dst
       |        ORDER BY dist, src) AS rn
       |    FROM outv
       |  ) WHERE rn <= $InsertRevCap
       |)
       |SELECT src, dst, dist FROM outv
       |UNION ALL
       |SELECT src, dst, dist FROM rev
       |ORDER BY src, dst""".stripMargin

}
