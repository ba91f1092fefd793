package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.ExactNN
import graft.ann.lsh.{Lsh, LshConfig, LshIndex}
import graft.eval.Eval

/** LSH index/search driver queries (reference O1-O13). Seeded-random
  * hashing is not SQL-expressible, so these cannot be re-run in SQL —
  * instead every query dumps its index/search/prediction OUTPUT to
  * parquet and the DuckDB oracle independently re-derives the claimed
  * numbers from the raw embeddings table (bucket completeness, exact
  * per-pair distances, exact-NN ground truth + recall aggregate), so a
  * wrong index or search hash-mismatches cross-engine. The ScalaTest
  * suite (ForestSpec, LshIndexSpec, property specs) gates the seeded
  * internals themselves. */
object LshQueries extends QueryPack {

  /** Thresholds sized to the synthetic embeddings table (64-d float):
    * pairwise L2 ∈ [1.0, 1.7] with 10-NN under ~1.25; cosine ∈ [0.5, 1.2]
    * with near-neighbors under ~0.8. */
  val L2Threshold = 1.3
  val CosineThreshold = 0.85
  val K = VectorQueries.K

  /** `q_autotune_scoped_m`'s sweep — ascending `maxProbeBuckets` arms
    * for the labeled/scoped serving knob (the measured 1M knee sits at
    * 64, SCALE.md §filtered ANN round 17; the gate-scale sweep
    * certifies the cheapest-arm-meeting-target rule cross-engine). */
  val ScopedMArms: Seq[Int] = Seq(4, 8, 16, 32, 64)

  /** Operating point from a recall/time sweep on the synthetic
    * embeddings: recall 1.0 at sf0.01 and 0.94 at sf0.1 (the reference's
    * published Euclidean operating points are 0.94-0.95, BASELINE.md) at
    * ~2s search; more trees buy little beyond this on 64-d data. */
  def config(angular: Boolean): LshConfig =
    LshConfig(nTrees = 20, kMinVecs = 80, angular = angular, seed = 42L)

  /** Shared default-config LSH fits (per metric mode): four queries
    * trained the L2 forest and two the angular forest identically per
    * run; the fit is seeded and dump-free, so sharing deletes the
    * redundant driver-side forest builds without changing output. */
  private[queries] def lshIdx(s: SparkSession, dir: String,
                              angular: Boolean): LshIndex =
    memoized(s, dir, s"lsh_idx_$angular") {
      Lsh.train(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        config(angular))
    }

  /** Bounded-work knobs for `q_lsh_search_capped`, sized to BIND at
    * sf0.01 (500 vectors): buckets run ~kMinVecs=80 entries, so a
    * 40-entry occupancy cap drops half of each hot bucket; the 40
    * probes/query then retrieve well over 150 distinct candidates, so
    * the 150-candidate deterministic cap binds too. */
  val MaxOccupancy = 40
  val MaxCandidatesCap = 150

  /** Unbounded-radius stand-in for `q_lsh_search_filtered_selective`:
    * the selective-dispatch claim is about WHICH path runs, not a
    * radius, and a finite threshold would mostly empty a 2%-selective
    * result set. Finite (not Double.MaxValue) so the dumped dist column
    * stays orderable in both engines. */
  val SelectiveThreshold = 1e9

  private def queriesDf(emb: DataFrame): DataFrame =
    emb.orderBy("vec_id").limit(VectorQueries.NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Where `q_lsh_bucket_stats` dumps the buckets table so its DuckDB
    * oracle can aggregate the SAME index in SQL (one subdir per sf so a
    * bench run at another scale can't clobber the gate's dump; root is
    * `-Dgraft.dump.root`-configurable, see [[QueryPack.dumpRoot]]). The
    * oracle is a real cross-engine check on two invariants of the index
    * BUILD, not just aggregation parity: `n_entries` comes from the
    * buckets table on the Spark side but from `count(*) FROM embeddings`
    * on the DuckDB side (equal iff every vector landed in exactly one
    * bucket per tree — O8 completeness), and `occupancy_ok` checks the
    * per-tree bucket count against the ⌈sample/kMinVecs⌉ leaf-count
    * lower bound (leaves hold at most kMinVecs fit-sample vectors, and
    * every sample vector is in the corpus, so at least that many buckets
    * are occupied). The bound is an approximation: `Forest.growTree`
    * returns a leaf above kMinVecs when MaxDepth (63) is hit or a
    * degenerate split sends every vector to one side, so duplicate-heavy
    * or adversarial data could legitimately occupy fewer buckets — both
    * engines compute the same boolean either way (the gate still
    * matches); a false `occupancy_ok` flags data worth looking at, not a
    * gate break. */
  def BucketDumpRoot: String = s"${QueryPack.dumpRoot}/graft_lsh_bucket_dump"

  /** Where the search queries dump their (query_id, vec_id, dist, valid)
    * rows so DuckDB can recompute each returned pair's exact distance
    * from the embeddings table and independently re-derive `valid`
    * (|dist − exact| tight AND dist ≤ threshold) — the same logic as the
    * in-job [[Eval.withValidity]] grade, but cross-engine. Rounding both
    * engines to 6 decimals is already proven hash-equal on this data by
    * `q_exact_nn_l2`/`_cosine`. */
  def SearchDumpRoot: String = s"${QueryPack.dumpRoot}/graft_search_dump"

  private[queries] def sfName(dir: String): String = new java.io.File(dir).getName

  /** Dump a search result and read it back, so the returned frame and
    * the DuckDB oracle aggregate the SAME parquet rows.
    *
    * Bench note: this write rides the TIMED path of every query that
    * uses it (`q_lsh_search_*`, `q_ivf_search_l2`, the recall/near-dup
    * dumps) — a bounded queries×k-row parquet write, the honest price of
    * the cross-engine gate (~+0.1 s at sf0.1). Read bench-over-bench
    * deltas on these queries with that in mind. */
  private[queries] def dumpAndReload(s: SparkSession, df: org.apache.spark.sql.DataFrame,
                                     path: String): org.apache.spark.sql.DataFrame = {
    df.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Index-build occupancy: per-tree bucket count / entries (O1-O8),
    // computed over the parquet-dumped buckets table (see BucketDumpRoot).
    "q_lsh_bucket_stats" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cfg = config(angular = false)
      val idx = lshIdx(s, dir, angular = false)
      val dump = s"$BucketDumpRoot/${sfName(dir)}"
      idx.buckets.write.mode("overwrite").parquet(dump)
      val nVecs = emb.count()
      val sample = math.min(nVecs, cfg.sampleCap.toLong)
      val minBuckets = (sample + cfg.kMinVecs - 1) / cfg.kMinVecs
      s.read.parquet(dump)
        .groupBy("tree_id")
        .agg(countDistinct("hash").as("n_buckets"),
          count(lit(1)).as("n_entries"),
          max("hash").as("max_hash"))
        .withColumn("occupancy_ok", col("n_buckets") >= minBuckets)
        .orderBy("tree_id")
    }),

    // Flagship ANN search, L2 (O13 full pipeline). Every row carries a
    // self-graded `valid` flag (exact-distance recompute + threshold in
    // the same job — pred ⊆ brute-force-at-threshold, Eval.withValidity);
    // the rows are also dumped so the DuckDB oracle re-derives `valid`
    // cross-engine from the embeddings table (see SearchDumpRoot).
    "q_lsh_search_l2" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val res = Eval.withValidity(idx.searchAll(q, K, L2Threshold, ExactNN.L2),
        emb, q, ExactNN.L2, L2Threshold)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_l2")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // ANN search, cosine (angular indexing path, hasher.go:121-132).
    "q_lsh_search_cosine" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = true)
      val res = Eval.withValidity(idx.searchAll(q, K, CosineThreshold, ExactNN.Cosine),
        emb, q, ExactNN.Cosine, CosineThreshold)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_cosine")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // The deterministic bounded-work search path under the oracle gate:
    // BOTH scale guards bind at sf0.01 — `cappedBuckets(MaxOccupancy)`
    // halves the ~80-entry buckets (kMinVecs=80), and
    // `maxCandidates=MaxCandidatesCap` caps the per-query candidate set
    // below the ~hundreds the 40 probes otherwise retrieve. This is the
    // hot-bucket guard the 100 TB story leans on (Lsh.scala
    // cappedBuckets/maxCandidates): capping can only DROP candidates, so
    // every returned row still carries an exact distance within
    // threshold, and the same cross-engine oracle as the uncapped
    // searches re-verifies each pair from the embeddings table.
    "q_lsh_search_capped" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val capped = LshIndex.fromBuckets(idx.model, idx.vectors,
        idx.cappedBuckets(MaxOccupancy))
      val res = Eval.withValidity(
        capped.searchAll(q, K, L2Threshold, ExactNN.L2,
          maxCandidates = Some(MaxCandidatesCap)),
        emb, q, ExactNN.L2, L2Threshold)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_l2_capped")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // Constrained (metadata-filtered) ANN search: top-k among the
    // vectors satisfying a metadata predicate (even label — ~50%
    // selective). The (vec_id) allow-list lands between candidate
    // retrieval and scoring (Lsh.searchAll `allowed`), so the top-k cut
    // runs over allowed candidates only — post-filtering the cut would
    // under-deliver k. The oracle recomputes every returned pair's
    // exact distance AND re-checks the predicate on the returned id, so
    // a single disallowed row flips `valid` cross-engine.
    "q_lsh_search_filtered" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val allowed = emb.where(col("label") % 2 === 0).select("vec_id")
      val res = Eval.withValidity(
        idx.searchAll(q, K, L2Threshold, ExactNN.L2,
          allowed = Some(allowed)),
        emb, q, ExactNN.L2, L2Threshold)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_filtered")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // Filtered-search recall vs the FILTERED exact ground truth (DuckDB
    // re-derives GT over the predicate subset itself) — the number that
    // certifies the filter sits before the cut: post-filtering would
    // show recall well below the unfiltered 1.0 because discarded rows
    // consume beam slots.
    "q_lsh_filtered_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val allowed = emb.where(col("label") % 2 === 0)
      // filtered search+dump ∥ the filtered exact GT
      val legs = inParallel(
        () => dumpAndReload(s,
          idx.searchAll(q, K, L2Threshold, ExactNN.L2,
            allowed = Some(allowed.select("vec_id"))),
          s"$SearchDumpRoot/${sfName(dir)}/lsh_filtered_recall"),
        () => ExactNN.topK(q, allowed, K, ExactNN.L2,
          threshold = Some(L2Threshold)).localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred, gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),

    // Selectivity dispatch under the oracle (FilteredSearch /
    // LshIndex.searchAllFiltered): a 2% allow-list (vec_id % 50 = 0,
    // below the 5% cutoff at every sf) BINDS the exact-scan path —
    // the production answer to the measured correlated-filter recall
    // collapse (SCALE.md §filtered ANN: probe-then-filter 0.513 at 1M)
    // — so recall vs DuckDB's own filtered exact ground truth must be
    // EXACTLY 1.0, not approximately: any probe-path leakage or subset
    // mis-scan breaks the hash. No distance threshold: with 2% of the
    // corpus allowed, nearest allowed neighbors routinely sit past the
    // probe thresholds, and the claim under test is the dispatch, not
    // the radius.
    "q_lsh_search_filtered_selective" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val allowed = emb.where(col("vec_id") % 50 === 0)
      // dispatch+serve+dump ∥ the subset exact GT
      val legs = inParallel(
        () => dumpAndReload(s,
          idx.searchAllFiltered(q, allowed, K, SelectiveThreshold,
            ExactNN.L2),
          s"$SearchDumpRoot/${sfName(dir)}/lsh_filtered_selective"),
        () => ExactNN.topK(q, allowed, K, ExactNN.L2).localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred, gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),

    // Density-aware filtered dispatch under the oracle — the bucket
    // index's q_graph_filtered_auto (round 16, closing the round-15
    // `weak`: LshIndex.searchAllFiltered routed on selectivity alone
    // above the cutoff while the measured failure is a density
    // property). Two predicate arms cross the density boundary — ~50%
    // (own-leaf locally dense → route `probe`) and ~10% (starved →
    // `exact_density`). The estimator's inputs (the tree-0 query
    // hashes and the buckets table) and every arm's predictions are
    // dumped; DuckDB recomputes the corpus/allowed counts, RE-DERIVES
    // the median own-leaf local-allowed density from the dumps (tree-0
    // bucket join, top-DefaultLocalBeamWidth by the same rounded L2 /
    // (dist, vec_id) ties, allowed counted, zero-candidate queries
    // kept at 0, exact interpolated median), replays the routing rule,
    // and grades each arm's recall vs its own filtered exact ground
    // truth — the whole dispatch decision cross-engine.
    "q_lsh_filtered_auto" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx0 = lshIdx(s, dir, angular = false)
      val dump = s"$SearchDumpRoot/${sfName(dir)}"
      // the two oracle-input dumps are independent legs — overlap them
      // (guide §2.6). Decisions and serves run over the DUMPED buckets,
      // so the rows DuckDB re-derives from are bit-for-bit the rows
      // Spark routed on.
      val dumps = inParallel(
        () => dumpAndReload(s, idx0.buckets, s"$dump/lsh_auto_buckets"),
        () => dumpAndReload(s,
          idx0.model.transform(q, "query_id", "qv")
            .where(col("tree_id") === 0).select("query_id", "hash"),
          s"$dump/lsh_auto_qhash"))
      val idx = LshIndex.fromBuckets(idx0.model, idx0.vectors, dumps(0))
      val arms = GraphQueries.FilteredAutoArms.map { case (name, m, r) =>
        (name, pmod(col("vec_id"), lit(m)) === r)
      }
      // ONE corpus aggregate for every arm's (corpus, allowed) counts,
      // threaded through filteredDecision's pass-through params (guide
      // §2.3: aggregate once) — filteredDecision otherwise runs a
      // count job per arm per side
      val cntCols = arms.zipWithIndex.map { case ((_, pred), i) =>
        count(when(pred, lit(1))).as(s"a$i")
      }
      val cntRow = emb.agg(count(lit(1)).as("c"), cntCols: _*).head()
      val nCorpus = cntRow.getLong(0)
      // decision computed ONCE per arm, then its route executed
      // directly (the q_graph_filtered_auto form — row-identical to
      // searchAllFiltered by construction, BucketFilteredDispatchSpec
      // pins the identity, without paying the counts + estimator
      // twice). The exact subset scan doubles as each arm's ground
      // truth. Arms are independent decision+serve chains — run them
      // as concurrent jobs (guide §2.6), decision ∥ exact scan within
      // each arm.
      val results = inParallel(arms.zipWithIndex.map {
        case ((name, pred), i) => () => {
          val allowed = emb.where(pred).select("vec_id")
          val legs = inParallel(
            () => idx.filteredDecision(q, allowed, K, metric = ExactNN.L2,
              allowedCount = Some(cntRow.getLong(i + 1)),
              corpusCount = Some(nCorpus)),
            () => graft.ann.ExactNN.topK(q,
                emb.where(pred).select(col("vec_id"), col("embedding")), K,
                ExactNN.L2, threshold = Some(SelectiveThreshold))
              .localCheckpoint())
          val d = legs(0).asInstanceOf[graft.ann.FilteredSearch.Decision]
          val exactSubset = legs(1).asInstanceOf[DataFrame]
          val res =
            (if (d.route.exact) exactSubset
             else idx.searchAll(q, K, SelectiveThreshold, ExactNN.L2,
               allowed = Some(allowed)))
              .withColumn("arm", lit(name))
          (name, d, res, exactSubset)
        }
      }: _*)
      val preds = dumpAndReload(s,
        results.map(_._3).reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"$dump/lsh_auto_preds")
      import s.implicits._
      def r4(v: Double): Double = BigDecimal(v)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val decisions = results.map { case (name, d, _, _) =>
        (name, d.corpusCount, d.allowedCount,
          r4(d.medianLocalAllowed.getOrElse(-1.0)), d.route.name,
          r4(d.lowQuartileLocalAllowed.getOrElse(-1.0)),
          d.bimodalStarved(K))
      }.toDF("arm", "corpus_n", "allowed_n", "median_local_allowed",
        "route", "low_quartile_local_allowed", "warn_bimodal")
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

    // Labeled store under the oracle (LshIndex.withLabels →
    // LabeledLshIndex.searchAllLabeled — the round-17 in-family
    // remediation the probe_starved/bimodal warnings name; the bucket
    // twin of q_graph_filtered_labeled): every query searches a
    // CROSS-label subset (target label = (own label + 5) % 10 — a
    // per-query label-equality predicate, a shape the global
    // allow-list probe path cannot even express per query). The
    // store's (label, tree_id, hash, vec_id) rows and the
    // centroid-ranked probe rows are dumped; DuckDB recomputes the
    // label-conditional bucket centroids from the dumped store
    // ITSELF, re-derives the probe ranking and asserts it equals the
    // dumped probes (probes_ok), re-derives the served top-k from its
    // own probes ⋈ buckets (same rounding, same (dist, vec_id) ties),
    // and grades it against its own per-query-label exact ground
    // truth — centroids, probe choice, and serve all cross-engine.
    "q_lsh_filtered_labeled" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val idx = lshIdx(s, dir, angular = false)
      val q = e.orderBy("vec_id").limit(VectorQueries.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          pmod(col("label") + 5, lit(10)).cast("string").as("label"))
      val dump = s"$SearchDumpRoot/${sfName(dir)}"
      // the serve runs over the store rebuilt from the DUMPED
      // (label, tree_id, hash, vec_id) rows (the one converter, which
      // takes a bucket repeated per label as one, plus the dump's
      // labels), so DuckDB re-derives from the served store itself
      val bk = dumpAndReload(s,
        idx.withLabels(e.select(col("vec_id"), col("label"))).labeledBuckets,
        s"$dump/lsh_labeled_buckets")
      val store = LshIndex.fromBuckets(idx.model, idx.vectors, bk)
        .withLabels(bk.select("vec_id", "label"))
      val probes = dumpAndReload(s, store.scopedProbeRows(q),
        s"$dump/lsh_labeled_probes")
      // probes_ok (Spark side): the dump round-trips identical to a
      // fresh derivation; DuckDB's probes_ok re-derives the whole
      // ranking from recomputed centroids instead — same boolean, two
      // independent roots. Both exceptAll directions are unioned into
      // ONE action (empty iff both legs are empty — the && of the old
      // two isEmpty jobs, each of which re-evaluated the centroid
      // ranking plan); the per-query-label exact GT — the filtered
      // ground truth the serve is graded on (gate-scale dump machinery,
      // like the auto rows') — runs as the concurrent leg.
      val fresh = store.scopedProbeRows(q)
      val corp = e.select(col("vec_id"), col("embedding"),
        col("label").cast("string").as("clabel"))
      val gtScored = corp.join(broadcast(q), col("clabel") === q("label"))
        .select(col("query_id"), col("vec_id"),
          round(ExactNN.L2.dist(col("qv"), col("embedding")), 6).as("dist"))
        .where(col("dist") <= SelectiveThreshold)
      val legs = inParallel(
        () => probes.exceptAll(fresh)
          .unionByName(fresh.exceptAll(probes)).isEmpty,
        () => graft.ann.TopK.perQueryTopK(gtScored, K).localCheckpoint())
      val probesOk = legs(0).asInstanceOf[Boolean]
      val gt = legs(1).asInstanceOf[DataFrame]
      val pred = store.searchAllLabeled(q, K, SelectiveThreshold, ExactNN.L2,
        probes = Some(probes))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
          gt.select("query_id", "vec_id"))
        .agg(round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
        .withColumn("probes_ok", lit(probesOk))
    }),

    // Allow-SCOPED serving under the oracle (LshIndex.scopedTo →
    // searchAllScoped — the round-17 SERVE-TIME remediation for
    // arbitrary predicates; scoped == labeled on one transient label,
    // so this row replays the labeled chain through the SAME
    // labeledStoreOracleSql builder with the constant ScopedLabel and
    // the allow predicate as the GT corpus). The predicate is the
    // correlated even-split (label < 5 — the bimodal regime the
    // dispatch can only warn about), but the API sees ONLY the id
    // allow-list: no label column reaches the serve. DuckDB recomputes
    // the allow-conditional bucket centroids from the dumped scoped
    // store, re-derives the probe ranking (probes_ok), re-derives the
    // served top-k, and grades vs its own exact GT over the allowed
    // subset; `api_ok` additionally pins the public one-call
    // searchAllScoped to the replayed chain's rows.
    "q_lsh_filtered_scoped" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val idx = lshIdx(s, dir, angular = false)
      val q = e.orderBy("vec_id").limit(VectorQueries.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val allowed = e.where(col("label") < 5).select("vec_id")
      val dump = s"$SearchDumpRoot/${sfName(dir)}"
      val bk = dumpAndReload(s, idx.scopedTo(allowed).labeledBuckets,
        s"$dump/lsh_scoped_buckets")
      val store = LshIndex.fromBuckets(idx.model, idx.vectors, bk)
        .withLabels(bk.select("vec_id", "label"))
      val qs = q.withColumn("label",
        lit(graft.ann.FilteredSearch.ScopedLabel))
      val probes = dumpAndReload(s, store.scopedProbeRows(qs),
        s"$dump/lsh_scoped_probes")
      val fresh = store.scopedProbeRows(qs)
      // pred is read three times (both apiOk directions + the final
      // grade) and api twice — checkpoint each ONCE so the serve plans
      // evaluate once, and run the three eager legs concurrently with
      // the probes identity check (guide §2.6). Each identity check
      // folds its two exceptAll directions into ONE action (empty iff
      // both legs empty — the && of the old pair of isEmpty jobs).
      val legs = inParallel(
        () => store.searchAllLabeled(qs, K, SelectiveThreshold,
          ExactNN.L2, probes = Some(probes)).localCheckpoint(),
        () => idx.searchAllScoped(q, allowed, K, SelectiveThreshold,
          ExactNN.L2).localCheckpoint(),
        () => probes.exceptAll(fresh)
          .unionByName(fresh.exceptAll(probes)).isEmpty,
        () => ExactNN.topK(q, e.join(allowed, "vec_id"), K, ExactNN.L2,
          threshold = Some(SelectiveThreshold)).localCheckpoint())
      val pred = legs(0).asInstanceOf[DataFrame]
      val api = legs(1).asInstanceOf[DataFrame]
      val probesOk = legs(2).asInstanceOf[Boolean]
      val gt = legs(3).asInstanceOf[DataFrame]
      val apiOk = api.exceptAll(pred)
        .unionByName(pred.exceptAll(api)).isEmpty
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
          gt.select("query_id", "vec_id"))
        .agg(round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
        .withColumn("probes_ok", lit(probesOk))
        .withColumn("api_ok", lit(apiOk))
    }),

    // The labeled/scoped probe-budget knob under the AutoTune oracle
    // (completing the tuning matrix's round-17 edge: LSH trees / IVF
    // nProbe / PQ-SQ-BQ depths / graph beam / scoped M). Shared-probes
    // form: ONE ranking + ONE scored pass at the max arm, smaller arms
    // cut by each candidate's minimum entry rank — row-identical to
    // the per-arm serve (prefix property of the centroid ranking;
    // spec-pinned). All arms' predictions land in one dump; DuckDB
    // re-derives the exact GT over the allowed subset, every arm's
    // recall from the dump, and replays the
    // cheapest-arm-meeting-target choice.
    "q_autotune_scoped_m" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val idx = lshIdx(s, dir, angular = false)
      val q = e.orderBy("vec_id").limit(VectorQueries.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val allowed = e.where(col("label") < 5).select("vec_id")
      val store = idx.scopedTo(allowed)
      val qs = q.withColumn("label",
        lit(graft.ann.FilteredSearch.ScopedLabel))
      val preds = graft.ann.AutoTune.scopedMSharedPreds(store, qs, K,
        SelectiveThreshold, ScopedMArms)
      // dump round-trip ∥ the exact GT (otherwise the GT evaluates
      // serially inside gradeArms' collect)
      val legs = inParallel(
        () => dumpAndReload(s, preds,
          s"$SearchDumpRoot/${sfName(dir)}/autotune_scoped_m_arms"),
        () => ExactNN.topK(q, e.join(allowed, "vec_id"), K, ExactNN.L2)
          .localCheckpoint())
      val (reloaded, gt) = (legs(0), legs(1))
      graft.ann.AutoTune.gradeArms(ScopedMArms, reloaded,
          gt.select("query_id", "vec_id"), CompressedQueries.AutoTuneTarget)
        .orderBy("arm")
    }),

    // Index lifecycle under the oracle, part 1 — DELETE
    // (LshIndex.withDeletes, the tombstone serve-time view; the
    // reference's store is append-only, store/store.go — deletes are a
    // production gap a long-lived index can't live without). A ~14%
    // tombstone set (vec_id % 7 = 0) is applied to the SHARED index;
    // every returned pair is re-verified from the raw embeddings AND
    // re-checked against the tombstone predicate, so a single leaked
    // deleted id flips `valid` cross-engine. Full delete-view == exact
    // semantics are spec-gated (LifecycleSpec's all-candidate config).
    "q_lsh_search_deleted" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val dead = emb.where(col("vec_id") % 7 === 0).select("vec_id")
      val res = Eval.withValidity(
          idx.withDeletes(dead).searchAll(q, K, L2Threshold, ExactNN.L2),
          emb, q, ExactNN.L2, L2Threshold)
        .withColumn("valid", col("valid") && col("vec_id") % 7 =!= 0)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_deleted")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // DELETE, recall form: served recall graded against DuckDB's OWN
    // exact ground truth over the REMAINING corpus — the deleted twin
    // of q_lsh_filtered_recall (a tombstone set is an allow-list's
    // complement; candidates that survive the anti-join are a superset
    // of no one, so the number certifies the view end to end).
    "q_lsh_deleted_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val dead = emb.where(col("vec_id") % 7 === 0).select("vec_id")
      // tombstoned search+dump ∥ the remaining-corpus exact GT
      val legs = inParallel(
        () => dumpAndReload(s,
          idx.withDeletes(dead).searchAll(q, K, L2Threshold, ExactNN.L2),
          s"$SearchDumpRoot/${sfName(dir)}/lsh_deleted_recall"),
        () => ExactNN.topK(q, emb.where(col("vec_id") % 7 =!= 0), K,
          ExactNN.L2, threshold = Some(L2Threshold)).localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred, gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),

    // Index lifecycle under the oracle, part 2 — UPSERT
    // (LshIndex.upsert = tombstone-then-append through the FROZEN
    // forest). Every vec_id % 10 = 3 vector is moved onto the location
    // of vec_id - 3 (a real in-distribution point both engines can
    // derive); the post-upsert corpus is reconstructed independently in
    // SQL and every returned pair's distance recomputed against it — a
    // STALE index row (old embedding served) or a DOUBLE-SERVED id
    // (append without tombstone ⇒ two scored rows per id) breaks the
    // hash. Updated vectors land exactly on existing points, so they
    // appear in served top-k and the staleness check has teeth.
    "q_lsh_search_upsert" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = queriesDf(emb)
      val idx = lshIdx(s, dir, angular = false)
      val src = emb.select(col("vec_id").as("src_id"),
        col("embedding").as("new_emb"))
      val updates = emb.where(col("vec_id") % 10 === 3).select("vec_id")
        .join(src, col("vec_id") - 3 === col("src_id"))
        .select(col("vec_id"), col("new_emb").as("embedding"))
      val corpusAfter = emb.where(col("vec_id") % 10 =!= 3)
        .select("vec_id", "embedding")
        .unionByName(updates)
      val res = Eval.withValidity(
        idx.upsert(updates).searchAll(q, K, L2Threshold, ExactNN.L2),
        corpusAfter, q, ExactNN.L2, L2Threshold)
      dumpAndReload(s, res, s"$SearchDumpRoot/${sfName(dir)}/lsh_upsert")
        .orderBy("query_id", "dist", "vec_id")
    }),

    // Per-query recall of LSH vs exact NN at the same threshold (O17
    // grading O13) — the reference's README benchmark loop as one query.
    // The prediction set is dumped (see SearchDumpRoot) so the DuckDB
    // oracle computes the exact-NN ground truth ITSELF and re-derives
    // the avg precision/recall aggregate cross-engine.
    "q_lsh_recall" -> ((s, dir) =>
      recall(s, dir, angular = false, ExactNN.L2, L2Threshold, "lsh_recall_l2")),

    // Angular variant (the reference publishes cosine recall separately
    // and acknowledges degradation there, README.md:164-167).
    "q_lsh_recall_cosine" -> ((s, dir) =>
      recall(s, dir, angular = true, ExactNN.Cosine, CosineThreshold, "lsh_recall_cosine"))
  )

  private def recall(s: SparkSession, dir: String, angular: Boolean,
                     metric: ExactNN.Metric, threshold: Double, sub: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val q = queriesDf(emb)
    val idx = lshIdx(s, dir, angular)
    // search+dump ∥ the exact GT (otherwise the GT evaluates serially
    // inside the final grading action)
    val legs = inParallel(
      () => dumpAndReload(s, idx.searchAll(q, K, threshold, metric),
        s"$SearchDumpRoot/${sfName(dir)}/$sub"),
      () => ExactNN.topK(q, emb, K, metric, threshold = Some(threshold))
        .localCheckpoint())
    val (pred, gt) = (legs(0), legs(1))
    Eval.setPrecisionRecall(pred, gt)
      .agg(
        round(avg("precision"), 4).as("avg_precision"),
        round(avg("recall"), 4).as("avg_recall"),
        count(lit(1)).as("n_queries"))
  }

  /** DuckDB mirror of [[Eval.setPrecisionRecall]] + the avg aggregate,
    * with the exact-NN ground truth recomputed BY DUCKDB from the
    * embeddings table (same rounding/tiebreak as `q_exact_nn_*`, proven
    * hash-equal on this data) and predictions read from the dump the
    * Spark query wrote. Join shapes mirror the Scala exactly: n_pred and
    * n_gt inner-joined (a query missing from either side drops out), the
    * hit count left-joined and coalesced to 0.
    */
  private[queries] def recallOracle(predGlob: String, distSql: String,
                                    threshold: Option[Double], k: Int,
                                    corpusWhere: String = ""): String = {
    val thrFilter = threshold.fold("")(t => s"WHERE dist <= $t")
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |sc AS (
       |  SELECT qs.query_id, e.vec_id, $distSql AS dist
       |  FROM qs CROSS JOIN (SELECT * FROM embeddings $corpusWhere) e
       |),
       |gt AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM sc $thrFilter
       |  ) WHERE rn <= $k
       |),
       |p AS (SELECT query_id, vec_id FROM read_parquet('$predGlob')),
       |np AS (SELECT query_id, count(*) AS n_pred FROM p GROUP BY query_id),
       |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
       |h AS (
       |  SELECT p.query_id, count(*) AS valid
       |  FROM p JOIN gt USING (query_id, vec_id) GROUP BY p.query_id
       |),
       |pr AS (
       |  SELECT np.query_id,
       |         round(coalesce(h.valid, 0) / np.n_pred, 6) AS precision,
       |         round(coalesce(h.valid, 0) / ng.n_gt, 6) AS recall
       |  FROM np JOIN ng USING (query_id) LEFT JOIN h USING (query_id)
       |)
       |SELECT round(avg(precision), 4) AS avg_precision,
       |       round(avg(recall), 4) AS avg_recall,
       |       count(*) AS n_queries
       |FROM pr""".stripMargin
  }

  /** Dual-dump variant of [[recallOracle]] for the compressed-index
    * recall queries (`q_pq_recall`, `q_ivfpq_recall`): one exact-NN
    * ground truth recomputed by DuckDB, two prediction dumps (ADC-only
    * and ADC+rerank) graded against it — `(adc_recall, rerank_recall)`.
    * Join shapes mirror [[graft.eval.Eval.setPrecisionRecall]] exactly
    * (n_pred inner-joined so a query absent from a dump drops out, hits
    * left-joined and coalesced to 0). */
  private[queries] def dualRecallOracle(adcGlob: String, rerankGlob: String,
                                        k: Int,
                                        adcName: String = "adc_recall",
                                        rerankName: String = "rerank_recall")
      : String =
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |sc AS (
       |  SELECT qs.query_id, e.vec_id,
       |         $L2DistSql AS dist
       |  FROM qs CROSS JOIN embeddings e
       |),
       |gt AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM sc
       |  ) WHERE rn <= $k
       |),
       |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
       |pa AS (SELECT query_id, vec_id FROM read_parquet('$adcGlob')),
       |npa AS (SELECT query_id, count(*) AS n_pred FROM pa GROUP BY query_id),
       |ha AS (
       |  SELECT pa.query_id, count(*) AS valid
       |  FROM pa JOIN gt USING (query_id, vec_id) GROUP BY pa.query_id
       |),
       |ra AS (
       |  SELECT round(avg(round(coalesce(ha.valid, 0) / ng.n_gt, 6)), 4) AS $adcName
       |  FROM npa JOIN ng USING (query_id) LEFT JOIN ha USING (query_id)
       |),
       |pb AS (SELECT query_id, vec_id FROM read_parquet('$rerankGlob')),
       |npb AS (SELECT query_id, count(*) AS n_pred FROM pb GROUP BY query_id),
       |hb AS (
       |  SELECT pb.query_id, count(*) AS valid
       |  FROM pb JOIN gt USING (query_id, vec_id) GROUP BY pb.query_id
       |),
       |rb AS (
       |  SELECT round(avg(round(coalesce(hb.valid, 0) / ng.n_gt, 6)), 4) AS $rerankName
       |  FROM npb JOIN ng USING (query_id) LEFT JOIN hb USING (query_id)
       |)
       |SELECT ra.$adcName, rb.$rerankName FROM ra, rb""".stripMargin

  /** `q_lsh_filtered_auto`'s decision-replay SQL: the density-aware
    * bucket routing rule ([[graft.ann.FilteredSearch.routeBucket]])
    * re-derived end-to-end by DuckDB — counts from the embeddings
    * table, the median own-leaf local-allowed estimate from the dumped
    * tree-0 query hashes + buckets (the same bucket join, the same
    * rounded L2 and (dist, vec_id) tie order,
    * top-[[graft.ann.lsh.LshIndex.DefaultLocalBeamWidth]] cut,
    * zero-candidate queries kept at 0, exact interpolated median), the
    * route CASE mirroring the Scala rule's cutoffs, and per-arm recall
    * graded vs DuckDB's own filtered exact GT with [[recallOracle]]'s
    * join shapes. */
  private def lshFilteredAutoOracleSql: String = {
    val dump = s"$SearchDumpRoot/sf0.01"
    bucketFilteredAutoOracleSql(
      candSql = s"""  SELECT qh.query_id, bk.vec_id
                    |  FROM read_parquet('$dump/lsh_auto_qhash/*.parquet') qh
                    |  JOIN (SELECT hash, vec_id
                    |        FROM read_parquet('$dump/lsh_auto_buckets/*.parquet')
                    |        WHERE tree_id = 0) bk USING (hash)""".stripMargin,
      predsGlob = s"$dump/lsh_auto_preds/*.parquet")
  }

  /** The family-parametric decision-replay SQL behind
    * `q_lsh_filtered_auto` / `q_ivf_filtered_auto` — identical rule,
    * median+quartile derivation, route CASE, bimodal-warning rule and
    * per-arm recall grading; only the own-neighborhood candidate CTE
    * (`candSql`: tree-0 bucket join for LSH, nearest-cell join for
    * IVF) and the preds dump differ, so the two replays cannot drift.
    * The bimodal CASE covers both probe-path route names
    * (`probe`/`walk` — the Scala `Decision.bimodalStarved` pair), so a
    * graph-family reuse would not silently drop walk-route warnings
    * (round-16 ADVICE). */
  private[queries] def bucketFilteredAutoOracleSql(candSql: String,
                                                   predsGlob: String)
      : String = {
    val beam = graft.ann.lsh.LshIndex.DefaultLocalBeamWidth
    val armDefs = GraphQueries.FilteredAutoArms.zipWithIndex.map {
      case ((name, mod, rem), i) => (name, s"vec_id % $mod = $rem", i)
    }
    val okCols = armDefs.map { case (_, pred, i) =>
      s"e.$pred AS ok_a$i" }.mkString(",\n    ")
    val laCols = armDefs.map { case (_, _, i) =>
      s"count(*) FILTER (WHERE s.ok_a$i) AS la_a$i" }.mkString(",\n    ")
    val medCols = armDefs.map { case (_, _, i) =>
      s"round(quantile_cont(la_a$i, 0.5), 4) AS m_a$i,\n    " +
        s"round(quantile_cont(la_a$i, 0.25), 4) AS q_a$i" }
      .mkString(",\n    ")
    val cntCols = armDefs.map { case (_, pred, i) =>
      s"(count(*) FILTER (WHERE $pred))::BIGINT AS a_a$i" }
      .mkString(",\n    ")
    val recallCtes = armDefs.map { case (name, pred, i) =>
      s"""sc$i AS (
         |  SELECT qs.query_id, e.vec_id, $L2DistSql AS dist
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
         |         WHEN med.m_a$i >= $K THEN 'probe'
         |         WHEN cnts.a_a$i <= $maxAuto * cnts.corpus_n
         |           THEN 'exact_density'
         |         ELSE 'probe_starved' END AS route,
         |    med.q_a$i AS low_quartile_local_allowed,
         |    r$i.avg_recall, r$i.n_queries
         |  FROM cnts, med, r$i""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |preds AS (
       |  SELECT arm, query_id, vec_id
       |  FROM read_parquet('$predsGlob')
       |),
       |cand AS (
       |$candSql
       |),
       |sc AS (
       |  SELECT c.query_id, c.vec_id,
       |    $okCols,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY $L2DistSql, c.vec_id) AS rn
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN qs ON qs.query_id = c.query_id
       |),
       |la AS (
       |  SELECT qs.query_id,
       |    $laCols
       |  FROM qs LEFT JOIN (SELECT * FROM sc WHERE rn <= $beam) s
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
       |       low_quartile_local_allowed,
       |       (route IN ('probe', 'walk')
       |        AND low_quartile_local_allowed < $K)
       |         AS warn_bimodal,
       |       avg_recall, n_queries
       |FROM (
       |$armRows
       |) ORDER BY arm""".stripMargin
  }

  /** The family-parametric labeled-store replay behind
    * `q_lsh_filtered_labeled` / `q_ivf_filtered_labeled`: from the
    * dumped composite-key store alone, DuckDB (1) recomputes the
    * label-conditional centroids (per-dim mean of the label's own rows
    * per key, components rounded to 4 — the Spark sidecar's exact
    * recipe), (2) re-derives the probe ranking (rounded centroid
    * distance, (dist, keys) ties, top-`budget`) and asserts set
    * equality with the dumped probe rows (`probes_ok`), (3) re-derives
    * the served top-k from ITS OWN probes joined back to the store
    * (same rounding, same (dist, vec_id) ties), and (4) grades it
    * against its own per-query-label exact ground truth (target label
    * = (own label + 5) % 10, the query builder's rule). Only the key
    * columns, the centroid scope, and the probe budget differ between
    * the two families, so the replays cannot drift.
    *
    * The ALLOW-SCOPED rows (`q_lsh_filtered_scoped` /
    * `q_ivf_filtered_scoped`, round 17) replay the same chain through
    * the same builder with two substitutions — every query's label is
    * the constant [[graft.ann.FilteredSearch.ScopedLabel]]
    * (`queryLabelSql`) and the ground-truth corpus is the allow
    * predicate instead of the label-equality join (`gtWhere`) — so the
    * labeled and scoped replays cannot drift either: scoped serving IS
    * labeled serving on one transient label. */
  private[queries] def labeledStoreOracleSql(storeGlob: String,
                                             probesGlob: String,
                                             keyCols: Seq[String],
                                             centroidWhere: String,
                                             budget: Int,
                                             threshold: Option[Double],
                                             queryLabelSql: String =
                                               "((label + 5) % 10)::VARCHAR",
                                             gtWhere: String =
                                               "e.label::VARCHAR = qs.label")
      : String = {
    val keys = keyCols.mkString(", ")
    val bKeys = keyCols.map(k => s"b.$k").mkString(", ")
    val cKeys = keyCols.map(k => s"c.$k").mkString(", ")
    // rank included: equal SETS with different orders means the two
    // engines ranked differently — catch it, like the Spark side's
    // full-row exceptAll does
    val keyEq = (keyCols :+ "probe_rank")
      .map(k => s"dp.$k = pd.$k").mkString(" AND ")
    val keyEqRev = (keyCols :+ "probe_rank")
      .map(k => s"pd.$k = dp.$k").mkString(" AND ")
    val thrP = threshold.fold("")(t => s"WHERE dist <= $t")
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
       |         $queryLabelSql AS label
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |bk AS (SELECT * FROM read_parquet('$storeGlob')),
       |pd AS (SELECT * FROM read_parquet('$probesGlob')),
       |cdim AS (
       |  SELECT b.label, $bKeys, generate_subscripts(e.embedding, 1) AS pos,
       |         unnest(e.embedding::DOUBLE[]) AS x
       |  FROM (SELECT * FROM bk $centroidWhere) b
       |  JOIN embeddings e ON e.vec_id = b.vec_id
       |),
       |cm AS (
       |  SELECT label, $keys, pos, round(avg(x), 4) AS m
       |  FROM cdim GROUP BY label, $keys, pos
       |),
       |cent AS (
       |  SELECT label, $keys, list(m ORDER BY pos) AS centroid
       |  FROM cm GROUP BY label, $keys
       |),
       |ranked AS (
       |  SELECT qs.query_id, c.label, $cKeys,
       |    row_number() OVER (PARTITION BY qs.query_id
       |      ORDER BY round(list_distance(qs.qv, c.centroid), 6), $cKeys)
       |      - 1 AS probe_rank
       |  FROM qs JOIN cent c ON c.label = qs.label
       |),
       |dp AS (SELECT * FROM ranked WHERE probe_rank < $budget),
       |pok AS (
       |  SELECT ((SELECT count(*) FROM dp
       |           WHERE NOT EXISTS (SELECT 1 FROM pd
       |             WHERE pd.query_id = dp.query_id AND $keyEq))
       |        + (SELECT count(*) FROM pd
       |           WHERE NOT EXISTS (SELECT 1 FROM dp
       |             WHERE dp.query_id = pd.query_id AND $keyEqRev))
       |        = 0) AS probes_ok
       |),
       |cand AS (
       |  SELECT DISTINCT dp.query_id, b.vec_id
       |  FROM dp JOIN bk b USING (label, $keys)
       |),
       |sc AS (
       |  SELECT c.query_id, c.vec_id, $L2DistSql AS dist
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN qs ON qs.query_id = c.query_id
       |),
       |p AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM sc $thrP
       |  ) WHERE rn <= $K
       |),
       |gsc AS (
       |  SELECT qs.query_id, e.vec_id, $L2DistSql AS dist
       |  FROM qs JOIN embeddings e ON $gtWhere
       |),
       |gt AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM gsc $thrP
       |  ) WHERE rn <= $K
       |),
       |np AS (SELECT query_id, count(*) AS n_pred FROM p GROUP BY query_id),
       |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
       |h AS (
       |  SELECT p.query_id, count(*) AS valid
       |  FROM p JOIN gt USING (query_id, vec_id) GROUP BY p.query_id
       |),
       |pr AS (
       |  SELECT round(avg(round(coalesce(h.valid, 0) / np.n_pred, 6)), 4)
       |           AS avg_precision,
       |         round(avg(round(coalesce(h.valid, 0) / ng.n_gt, 6)), 4)
       |           AS avg_recall,
       |         count(*) AS n_queries
       |  FROM np JOIN ng USING (query_id) LEFT JOIN h USING (query_id)
       |)
       |SELECT pr.avg_precision, pr.avg_recall, pr.n_queries, pok.probes_ok
       |FROM pr, pok""".stripMargin
  }

  /** DuckDB L2 / cosine distance SQL over `qs`/`e` aliases, matching the
    * Spark-side 6-decimal rounding and the cosine near-zero clamp. */
  private[queries] val L2DistSql =
    "round(list_distance(qs.qv, e.embedding::DOUBLE[]), 6)"
  private[queries] val CosineDistSql =
    """round(CASE WHEN 1.0 - list_cosine_similarity(qs.qv, e.embedding::DOUBLE[]) < 1e-6
      |       THEN 0.0
      |       ELSE 1.0 - list_cosine_similarity(qs.qv, e.embedding::DOUBLE[]) END, 6)""".stripMargin

  /** Seeded-random hashing itself is not SQL-expressible, but the
    * bucket-stats invariants are (see [[BucketDumpRoot]]) and so is the
    * per-returned-pair distance recompute for the searches (see
    * [[SearchDumpRoot]]): DuckDB re-derives every row's exact distance
    * from the embeddings table and its own `valid` boolean, so a
    * wrong-distance or over-threshold search row hash-mismatches
    * cross-engine. Dump paths pin sf0.01 — the scale the driver's
    * correctness gate runs at. */
  override def oracleSql: Map[String, String] = {
    val cfg = config(angular = false)

    def searchOracle(sub: String, distSql: String, threshold: Double): String =
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('$SearchDumpRoot/sf0.01/$sub/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist, $distSql AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       (abs(exact - dist) < 1e-9 AND dist <= $threshold) AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin

    Map(
      "q_lsh_bucket_stats" ->
        s"""WITH b AS (
           |  SELECT * FROM read_parquet('$BucketDumpRoot/sf0.01/*.parquet')
           |),
           |nv AS (SELECT count(*) AS n FROM embeddings),
           |st AS (
           |  SELECT tree_id,
           |         count(DISTINCT hash)::BIGINT AS n_buckets,
           |         max(hash) AS max_hash
           |  FROM b GROUP BY tree_id
           |)
           |SELECT st.tree_id, st.n_buckets, nv.n::BIGINT AS n_entries,
           |       st.max_hash,
           |       st.n_buckets >=
           |         (least(nv.n, ${cfg.sampleCap}) + ${cfg.kMinVecs - 1}) // ${cfg.kMinVecs}
           |         AS occupancy_ok
           |FROM st, nv ORDER BY st.tree_id""".stripMargin,

      "q_lsh_search_l2" -> searchOracle("lsh_l2",
        "round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)",
        L2Threshold),

      // same per-pair recompute as the uncapped searches: capping drops
      // candidates but never changes what a returned (query, vec) pair's
      // exact distance is — pred ⊆ exact-at-threshold by construction
      "q_lsh_search_capped" -> searchOracle("lsh_l2_capped",
        "round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)",
        L2Threshold),

      "q_lsh_search_cosine" -> searchOracle("lsh_cosine",
        """round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
          |       THEN 0.0
          |       ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6)""".stripMargin,
        CosineThreshold),

      // Filtered search: same per-pair distance recompute as the other
      // searches PLUS the predicate re-checked on the returned id —
      // a disallowed row flips `valid` cross-engine.
      "q_lsh_search_filtered" ->
        s"""WITH d AS (
           |  SELECT * FROM read_parquet('$SearchDumpRoot/sf0.01/lsh_filtered/*.parquet')
           |),
           |r AS (
           |  SELECT d.query_id, d.vec_id, d.dist, e.label,
           |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
           |  FROM d
           |  JOIN embeddings e ON e.vec_id = d.vec_id
           |  JOIN embeddings q ON q.vec_id = d.query_id
           |)
           |SELECT query_id, vec_id, dist,
           |       (abs(exact - dist) < 1e-9 AND dist <= $L2Threshold
           |        AND label % 2 = 0) AS valid
           |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,

      // Filtered recall graded against DuckDB's OWN ground truth over
      // the predicate subset.
      "q_lsh_filtered_recall" -> recallOracle(
        s"$SearchDumpRoot/sf0.01/lsh_filtered_recall/*.parquet",
        L2DistSql, Some(L2Threshold), K,
        corpusWhere = "WHERE label % 2 = 0"),

      // Selective-dispatch recall vs DuckDB's own exact ground truth
      // over the 2% allow-list — must be exactly 1.0 (exact-scan path).
      "q_lsh_search_filtered_selective" -> recallOracle(
        s"$SearchDumpRoot/sf0.01/lsh_filtered_selective/*.parquet",
        L2DistSql, None, K,
        corpusWhere = "WHERE vec_id % 50 = 0"),

      // Density-aware dispatch replay (see the query's scaladoc).
      "q_lsh_filtered_auto" -> lshFilteredAutoOracleSql,

      // Label-partitioned store: DuckDB recomputes the
      // label-conditional bucket centroids from the dumped store,
      // re-derives the probe ranking (probes_ok vs the dump),
      // re-derives the served top-k from its own probes, and grades
      // vs its own per-query-label exact GT (the shared
      // labeledStoreOracleSql builder — the IVF twin differs only in
      // its key columns and budget, so the two replays cannot drift).
      "q_lsh_filtered_labeled" -> labeledStoreOracleSql(
        storeGlob = s"$SearchDumpRoot/sf0.01/lsh_labeled_buckets/*.parquet",
        probesGlob = s"$SearchDumpRoot/sf0.01/lsh_labeled_probes/*.parquet",
        keyCols = Seq("tree_id", "hash"),
        centroidWhere =
          s"WHERE tree_id < ${graft.ann.lsh.LabeledLshIndex.DefaultCentroidTrees}",
        budget = graft.ann.lsh.LabeledLshIndex.DefaultMaxProbeBuckets,
        threshold = Some(SelectiveThreshold)),

      // Allow-scoped serving: the SAME builder replays the scoped
      // chain — constant ScopedLabel on every query, the allow
      // predicate (label < 5, the correlated even-split) as the GT
      // corpus. DuckDB recomputes the allow-conditional centroids from
      // the dumped scoped store, re-derives the probe ranking
      // (probes_ok), re-derives the served top-k, and grades vs its
      // own exact GT over the allowed subset. `api_ok` is asserted
      // TRUE: the Spark side measured the public one-call
      // searchAllScoped against the replayed chain, and a false
      // hash-mismatches here.
      "q_lsh_filtered_scoped" ->
        s"""SELECT *, TRUE AS api_ok FROM (
           |${labeledStoreOracleSql(
              storeGlob =
                s"$SearchDumpRoot/sf0.01/lsh_scoped_buckets/*.parquet",
              probesGlob =
                s"$SearchDumpRoot/sf0.01/lsh_scoped_probes/*.parquet",
              keyCols = Seq("tree_id", "hash"),
              centroidWhere =
                s"WHERE tree_id < ${graft.ann.lsh.LabeledLshIndex.DefaultCentroidTrees}",
              budget = graft.ann.lsh.LabeledLshIndex.DefaultMaxProbeBuckets,
              threshold = Some(SelectiveThreshold),
              queryLabelSql = s"'${graft.ann.FilteredSearch.ScopedLabel}'",
              gtWhere = "e.label < 5")}
           |)""".stripMargin,

      // The scoped/labeled probe-budget sweep: the shared AutoTune
      // decision replay (GT over the allowed subset via corpusWhere).
      "q_autotune_scoped_m" -> CompressedQueries.autotuneOracleSql(
        "autotune_scoped_m_arms", ScopedMArms,
        CompressedQueries.AutoTuneTarget, L2DistSql,
        corpusWhere = "WHERE label < 5"),

      // Delete view: per-pair distance recompute + tombstone-predicate
      // re-check — a leaked deleted id flips `valid` cross-engine.
      "q_lsh_search_deleted" ->
        s"""WITH d AS (
           |  SELECT * FROM read_parquet('$SearchDumpRoot/sf0.01/lsh_deleted/*.parquet')
           |),
           |r AS (
           |  SELECT d.query_id, d.vec_id, d.dist,
           |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
           |  FROM d
           |  JOIN embeddings e ON e.vec_id = d.vec_id
           |  JOIN embeddings q ON q.vec_id = d.query_id
           |)
           |SELECT query_id, vec_id, dist,
           |       (abs(exact - dist) < 1e-9 AND dist <= $L2Threshold
           |        AND vec_id % 7 <> 0) AS valid
           |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,

      // Delete-view recall vs DuckDB's own ground truth over the
      // REMAINING corpus.
      "q_lsh_deleted_recall" -> recallOracle(
        s"$SearchDumpRoot/sf0.01/lsh_deleted_recall/*.parquet",
        L2DistSql, Some(L2Threshold), K,
        corpusWhere = "WHERE vec_id % 7 <> 0"),

      // Upsert: DuckDB reconstructs the post-upsert corpus itself
      // (vec_id % 10 = 3 rows re-pointed at vec_id - 3's embedding) and
      // recomputes every returned pair against it — stale or
      // double-served rows break the hash.
      "q_lsh_search_upsert" ->
        s"""WITH d AS (
           |  SELECT * FROM read_parquet('$SearchDumpRoot/sf0.01/lsh_upsert/*.parquet')
           |),
           |ca AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
           |  UNION ALL
           |  SELECT e.vec_id, s.embedding
           |  FROM embeddings e JOIN embeddings s ON s.vec_id = e.vec_id - 3
           |  WHERE e.vec_id % 10 = 3
           |),
           |r AS (
           |  SELECT d.query_id, d.vec_id, d.dist,
           |         round(list_distance(q.embedding::DOUBLE[], ca.embedding::DOUBLE[]), 6) AS exact
           |  FROM d
           |  JOIN ca ON ca.vec_id = d.vec_id
           |  JOIN embeddings q ON q.vec_id = d.query_id
           |)
           |SELECT query_id, vec_id, dist,
           |       (abs(exact - dist) < 1e-9 AND dist <= $L2Threshold) AS valid
           |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,

      "q_lsh_recall" -> recallOracle(
        s"$SearchDumpRoot/sf0.01/lsh_recall_l2/*.parquet",
        L2DistSql, Some(L2Threshold), K),

      "q_lsh_recall_cosine" -> recallOracle(
        s"$SearchDumpRoot/sf0.01/lsh_recall_cosine/*.parquet",
        CosineDistSql, Some(CosineThreshold), K))
  }
}
