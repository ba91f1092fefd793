package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ann.TopK
import graft.functions.exprs
import graft.text.TextFunctions._

/** Lexical + hybrid retrieval over `documents.parquet` /
  * `embeddings.parquet` — the query-serving surface a vector-search
  * deployment actually ships behind: BM25 keyword ranking (Robertson &
  * Zaragoza 2009, the Lucene-standard `ln(1+(N-df+.5)/(df+.5))` idf
  * form) and reciprocal-rank fusion of the lexical and embedding
  * retrievers (Cormack et al. SIGIR 2009 — `Σ 1/(K+rank)`, K=60).
  * The reference serves only the vector half (lsh/lsh.go:137-197);
  * production retrieval pairs it with a term index and fuses.
  *
  * Scale design (100 TB): the query set is the small side everywhere —
  * query terms broadcast into the token stream, so the corpus never
  * shuffles on a term; per-doc term frequencies are one map-side
  * explode + (doc_id, term)-keyed aggregation; document frequencies
  * aggregate only the rows that survived the query-term semi-join
  * (|query terms| × df rows, not the corpus token stream); and every
  * ranking tail is the bounded [[graft.ann.TopK]] aggregation — shuffle
  * capped at partitions × k rows per query, never a corpus-wide window
  * sort. Fusion joins two top-C rank lists (≤ C rows per query each),
  * so its cost is independent of corpus size.
  *
  * Determinism / cross-engine hashing: scores are rounded to 6 decimals
  * BEFORE ranking in both engines (sub-ulp float disagreement between
  * Spark and DuckDB cannot flip a rank), ties pinned by doc_id; RRF
  * scores are sums of 1/(60+rank) over small integer ranks, identical
  * across engines by construction.
  */
object RetrievalQueries extends QueryPack {

  /** BM25 term-saturation / length-normalization constants (the
    * canonical defaults — owned by [[graft.retrieval.PostingsStore]],
    * which also owns the ONE spelling of the scoring expressions every
    * path shares). */
  val K1: Double = graft.retrieval.PostingsStore.K1
  val B: Double = graft.retrieval.PostingsStore.B
  /** Results kept per query. */
  val TopKDocs = 10
  /** Fixed keyword queries: mixes the corpus's one rare term ("dup",
    * df 26/500 — high idf) with common terms whose idf ≈ 0, so the
    * ranking exercises both ends of the saturation curve. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("dup"),
    2L -> Seq("spark", "window"),
    3L -> Seq("vector", "query", "fast"),
    4L -> Seq("dup", "customer", "join"))

  /** `q_bm25_refit_topk`'s rule-derived drift script (SQL-replayable):
    * docs ≡ RefitDelRem (mod RefitMod) are deleted; docs ≡ RefitAddRem
    * re-arrive under doc_id + RefitIdOffset with `refitterm` appended
    * to their tokens — a term UNSEEN at fit time, so the row exercises
    * BOTH the df/N/avgdl fold and the OOV retroactive scoring. Query
    * 999 asks for the OOV term directly. */
  val RefitMod = 25L
  val RefitDelRem = 7L
  val RefitAddRem = 3L
  val RefitIdOffset = 10000000L
  val RefitQueries: Seq[(Long, Seq[String])] =
    Bm25Queries :+ (999L -> Seq("refitterm", "vector"))
  /** RRF constant (Cormack et al. 2009's K=60). */
  val RrfK = 60
  /** Late-interaction token-embedding dims (±1 components, so every
    * token-pair cosine is an exact multiple of 1/MaxSimDims). */
  val MaxSimDims = 16
  /** Query tokens kept per query doc for maxsim scoring — the
    * MaxSimQTokens smallest md5(token) values, an ORDER-FREE cap (no
    * reliance on either engine's distinct/tokenize ordering). */
  val MaxSimQTokens = 16
  /** Candidate depth each retriever contributes to fusion. */
  val FuseDepth = 50
  /** Query-by-example query count for the hybrid query (doc_id 0..9;
    * doc_id and vec_id are aligned in the testdata). */
  val NumHybridQueries = 10

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))

  /** The STORED lexical index both keyword queries serve from — built
    * once per (session, sf) and persisted
    * ([[graft.retrieval.PostingsStore]]): the round-11 "retrieval
    * serving recomputes its index per call" gap. The stored tables are
    * row-identical to the inline tokenize→tf→df pipelines (RetrievalSpec
    * pins it), so the oracle SQL is UNCHANGED — the swap changes plans
    * (probe a stored inverted index) not numbers. */
  private def postings(s: SparkSession, dir: String): graft.retrieval.PostingsStore =
    memoized(s, dir, "postings_store") {
      graft.retrieval.PostingsStore.build(s,
        s"${QueryPack.dumpRoot}/graft_postings/${LshQueries.sfName(dir)}",
        docs(s, dir))
    }

  /** The DRIFTED-and-REFIT store `q_bm25_refit_topk` serves from:
    * build over the base corpus, apply the rule-derived drift
    * ([[RefitMod]] script — deletes + OOV-suffixed re-arrivals) through
    * one LSM batch, then [[graft.retrieval.PostingsStore.mergeRefit]]
    * — the O(drift) stats fold whose result must be row-identical to a
    * fresh build over the drifted corpus, which is EXACTLY what the
    * DuckDB oracle computes from scratch. The path is cleared first:
    * build overwrites the base tables but a prior process's LSM logs
    * would otherwise leak into the recovered state. */
  private def refitPostings(s: SparkSession,
                            dir: String): graft.retrieval.PostingsStore = {
    // resolved BEFORE the memo lambda (the scopedGraphStore rule:
    // nested computeIfAbsent on one map throws "Recursive update") —
    // the refit twin's base tables are a FILE-level clone of the
    // already-memoized base store (PostingsStore.cloneBase), so the
    // tokenize + tf/df aggregation is paid once per (session, sf)
    // instead of twice (round-17 memo trim; bit-identical by
    // construction, and the oracle still rebuilds from scratch)
    postings(s, dir) // force the base build; its path is cloned below
    memoized(s, dir, "postings_refit_store") {
      val d = docs(s, dir)
      val path =
        s"${QueryPack.dumpRoot}/graft_postings_refit/${LshQueries.sfName(dir)}"
      val store = graft.retrieval.PostingsStore.cloneBase(s,
        s"${QueryPack.dumpRoot}/graft_postings/${LshQueries.sfName(dir)}",
        path)
      val arrivals = d.where(pmod(col("doc_id"), lit(RefitMod)) === RefitAddRem)
        .select((col("doc_id") + RefitIdOffset).as("doc_id"),
          concat(col("toks"),
            array(lit("refitterm")).cast("array<string>")).as("toks"))
      val deletes = d.where(pmod(col("doc_id"), lit(RefitMod)) === RefitDelRem)
        .select("doc_id")
      store.onBatch(Some(arrivals), Some(deletes))
      store.mergeRefit()
      store
    }
  }

  /** (query_id, doc_id, score): BM25 scores for every (query, doc) pair
    * sharing at least one term. `qterms` is (query_id, term) — the
    * SMALL side, broadcast twice (once as the distinct-term semi-join
    * that prunes the token stream, once to fan surviving doc-term rows
    * out to the queries containing the term). Scores are rounded to 6
    * before any ranking (see class doc). */
  /** (doc_id, term, tscore): per-(doc, term) BM25 partial scores —
    * `score(q, d) = Σ_{t ∈ q} tscore(t, d)`, so this is the STATIC half
    * of a streaming retrieval deployment (a query stream joins it on
    * term and sums; see StreamingRetrievalSpec). `terms` = Some(small
    * term set) prunes the token stream through a broadcast semi-join
    * before any aggregation (the batch-query path); None keeps every
    * term (the precomputed-index path — tscore per term is independent
    * of the query set, so both paths agree on shared terms). */
  private[graft] def termScores(d: DataFrame, terms: Option[DataFrame]): DataFrame = {
    val n = d.count()
    // One scan: carry doc length through the tf aggregation key instead
    // of re-joining a separate (doc_id, dl) projection.
    val exploded = d
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
    val pruned = terms match {
      case Some(t) => exploded.join(broadcast(t.select("term").distinct()), "term")
      case None    => exploded
    }
    val tf = pruned.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = d.agg(avg(size(col("toks"))).as("avgdl"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(avgdl))
      .select(col("doc_id"), col("term"),
        graft.retrieval.PostingsStore
          .tscoreCol(n.toDouble, K1, B, col("avgdl")).as("tscore"))
  }

  /** (doc_id, term, w): the sparse tf·ln(N/df) postings table — the
    * STATIC half of a sparse-retrieval deployment (a query-weight
    * stream joins it on term and sums the products; see
    * StreamingRetrievalSpec). `terms = Some(t)` prunes the token
    * stream through a broadcast semi-join before any aggregation (the
    * batch-query path); None keeps every term (the precomputed-index
    * path). df per term is identical under both (pruning drops terms,
    * never a term's doc rows), so the paths agree on shared terms.
    * Weights round to 6 BEFORE any product (class-doc rule).
    *
    * `minWeight > 0` drops postings AT or below the threshold
    * (strictly-greater weights survive) — the standard
    * sparse-retrieval index pruning (near-zero weights are corpus-wide
    * terms whose postings dominate join fan-out while contributing
    * ~nothing to any score; SPLADE-style serving prunes them at index
    * build). Recall tradeoff is the caller's: a pruned posting can
    * only LOWER a doc's score by ≤ minWeight × the query's matching
    * weight. df is computed BEFORE pruning, so surviving weights are
    * unchanged — pruning drops rows, never reweights them. */
  private[graft] def sparseWeights(d: DataFrame, terms: Option[DataFrame],
                                   minWeight: Double = 0.0): DataFrame = {
    val n = d.count()
    val exploded = d.select(col("doc_id"), explode(col("toks")).as("term"))
    val pruned = terms match {
      case Some(t) => exploded.join(broadcast(t.select("term").distinct()), "term")
      case None    => exploded
    }
    val tf = pruned.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf.join(broadcast(dfreq), "term")
      .select(col("doc_id"), col("term"),
        graft.retrieval.PostingsStore.sparseWCol(n.toDouble).as("w"))
    if (minWeight > 0.0) w.where(col("w") > minWeight) else w
  }

  private[graft] def bm25(d: DataFrame, qterms: DataFrame): DataFrame =
    termScores(d, Some(qterms))
      .join(broadcast(qterms), "term")
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("tscore")), 6).as("score"))

  /** BM25 over the STORED postings: Σ tscore per (query, doc) of the
    * broadcast (query_id, term) list — the serving twin of [[bm25]],
    * shared by q_bm25_topk and the hybrid lexical arm so the two
    * keyword-serving paths cannot drift. */
  private def bm25Stored(store: graft.retrieval.PostingsStore,
                         qterms: DataFrame): DataFrame =
    store.bm25
      .join(broadcast(qterms), "term")
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("tscore")), 6).as("score"))

  /** Bounded descending-score top-k: the [[TopK]] aggregator orders
    * ascending by (dist, id), so rank on negated score — (score desc,
    * doc_id asc) falls out of its tie rule. Returns
    * (query_id, rank, doc_id, score-col named `out`). */
  private[queries] def topDesc(scored: DataFrame, scoreCol: String, k: Int,
                               out: String): DataFrame =
    scored
      .groupBy("query_id")
      .agg(TopK.topK(k)(col("doc_id"), -col(scoreCol)).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.vec_id").as("doc_id"), (-col("col.dist")).as(out))

  /** The hybrid queries' lexical arm: BM25 over each query doc's own
    * distinct terms, self excluded, cut to the top-FuseDepth ranks —
    * served from the STORED postings table like the keyword queries
    * (tscore per (doc, term) is query-independent, so rows are
    * identical to the inline pipeline). Memoized + checkpointed: four
    * queries consume it. */
  private[queries] def hybridLex(s: SparkSession, dir: String): DataFrame = {
    // the store memo is resolved BEFORE the memo lambda — nested
    // computeIfAbsent on one map throws "Recursive update" (the
    // QueryPack.memoized contract)
    val store = postings(s, dir)
    memoized(s, dir, "hybrid_lex_ranks") {
      val d = docs(s, dir)
      val qterms = d.where(col("doc_id") < NumHybridQueries)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(col("toks"))).as("term"))
      val lexAll = bm25Stored(store, qterms)
        .where(col("doc_id") =!= col("query_id"))
      topDesc(lexAll, "score", FuseDepth, "score")
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
        .localCheckpoint()
    }
  }

  private def hybridQueriesDf(e: DataFrame): DataFrame =
    e.where(col("vec_id") < NumHybridQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** The exact vector arm: full-corpus cosine scan per query — the
    * oracle-checkable reference form (and the agreement baseline). */
  private def hybridVecExact(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "hybrid_vec_exact_ranks") {
      val e = tbl(s, dir, "embeddings")
      val q = hybridQueriesDf(e)
      val vecScored = q.join(e, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          // negated rounded cosine DISTANCE as a descending "score":
          // ascending distance == descending score, same topDesc tail.
          (-round(exprs.cosineDistNative(col("qv"), col("embedding")), 6))
            .as("vscore"))
      topDesc(vecScored, "vscore", FuseDepth, "vscore")
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_vec"))
        .localCheckpoint()
    }

  /** The index-served vector arm: candidates from the shared angular
    * LSH forest (probe → dedup → exact cosine on candidates only),
    * self excluded, ranked by (dist, doc_id) through the same bounded
    * topDesc tail. Threshold 2.0 = the cosine-distance ceiling: depth
    * ranking wants every probed candidate, the FuseDepth cut does the
    * limiting. Returns (query_id, doc_id, dist, rank_vec) — dist rides
    * along so the dump lets DuckDB re-derive the ranks from recomputed
    * distances. */
  private def hybridVecIndexed(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "hybrid_vec_lsh_ranks") {
      val e = tbl(s, dir, "embeddings")
      val q = hybridQueriesDf(e)
      val idx = LshQueries.lshIdx(s, dir, angular = true)
      val cands = idx.searchAll(q, FuseDepth + 1, 2.0, graft.ann.ExactNN.Cosine)
        .where(col("vec_id") =!= col("query_id"))
      topDesc(cands.select(col("query_id"), col("vec_id").as("doc_id"),
            (-col("dist")).as("ndist")),
          "ndist", FuseDepth, "ndist")
        .select(col("query_id"), col("doc_id"), (-col("ndist")).as("dist"),
          col("rank").as("rank_vec"))
        .localCheckpoint()
    }

  /** Reciprocal-rank fusion of two (query_id, doc_id, rank_*) lists +
    * the bounded top-k tail — shared verbatim by the exact and indexed
    * hybrids so the serving swap changes ONLY the vector arm. */
  private def fuseRrf(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fusedScore = coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec")), lit(0.0))
    // Both the top-k tail and the rank-detail join consume `fused`;
    // persist it so the fusion input evaluates once. Verify/Bench
    // release it via their per-query cache cleanup; it is
    // ≤ 2·FuseDepth rows per query regardless of corpus size.
    val fused = graft.text.Dedup.materializeRelease(
      lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          round(fusedScore, 6).as("rrf"), col("rank_lex"), col("rank_vec")))
    topDesc(fused, "rrf", TopKDocs, "rrf")
      .join(fused.select("query_id", "doc_id", "rank_lex", "rank_vec"),
        Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("rank_lex"), col("rank_vec"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BM25 keyword search: fixed multi-term queries, top-10 docs each —
    // served from the STORED per-(doc, term) score table (the inverted
    // index probed by the query's terms; tscore per term is independent
    // of the query set, so rows are identical to the inline pipeline).
    "q_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qterms = Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      topDesc(bm25Stored(postings(s, dir), qterms), "score", TopKDocs,
          "score")
        .orderBy("query_id", "rank")
    }),

    // BM25 after DRIFT + the O(drift) stats refit, under the oracle:
    // the store absorbs the rule-derived drift (deletes + re-arrivals
    // carrying a fit-unseen term) through one LSM batch and one
    // mergeRefit, then serves the extended query set — while DuckDB
    // computes BM25 over the drifted corpus FROM SCRATCH (tokenize →
    // tf → df → scores). A wrong fold anywhere (df delta, N, avgdl,
    // the OOV term's retroactive df) shifts a score and mismatches;
    // query 999 probes the OOV term directly, so the refit's headline
    // property (previously-unscored stored rows begin scoring) is
    // itself cross-engine.
    "q_bm25_refit_topk" -> ((s, dir) => {
      import s.implicits._
      val qterms = RefitQueries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "term")
      topDesc(bm25Stored(refitPostings(s, dir), qterms), "score", TopKDocs,
          "score")
        .orderBy("query_id", "rank")
    }),

    // Sparse weighted-term retrieval, query-by-example — the
    // SPLADE-family serving shape (sparse learned term weights dotted
    // through an inverted index; here the weights are tf·ln(N/df), the
    // deterministic stand-in for a learned expansion): score(q, d) =
    // Σ_t w_q(t)·w_d(t) over SHARED terms only. Complements BM25
    // (fixed keyword queries, saturation scoring) with the
    // vector-of-weights form dense/sparse hybrids fuse. Scale shape:
    // the corpus token stream is pruned through a broadcast semi-join
    // on the query docs' term set BEFORE any aggregation, postings
    // join on term with the (small) query-weight side broadcast, and
    // the tail is the bounded TopK aggregation — the corpus never
    // shuffles on a term it shares no query with. Weights are rounded
    // to 6 before the product and the score before ranking, ties
    // pinned by doc_id (the class-doc determinism rule); DuckDB
    // replays tf, df, both weight vectors, the dot product, and the
    // rank cut.
    "q_sparse_dot_topk" -> ((s, dir) => {
      // served from the STORED postings table: the query docs' weight
      // vectors are stored rows too (broadcast-joined on term), and
      // pruning-vs-full agreement on shared terms (the sparseWeights
      // contract) makes the rows identical to the inline pipeline —
      // terms outside the query set never match a qw row.
      val w = postings(s, dir).sparse
      val qw = w.where(col("doc_id") < NumHybridQueries)
        .select(col("doc_id").as("query_id"), col("term"), col("w").as("qw"))
      val scored = w.join(broadcast(qw), "term")
        .where(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(round(sum(col("qw") * col("w")), 6).as("score"))
      topDesc(scored, "score", TopKDocs, "score")
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval, query-by-example: for 10 query docs, fuse the
    // BM25 ranking of the query doc's own distinct terms with the exact
    // cosine ranking of its embedding via reciprocal-rank fusion. Each
    // retriever contributes its top-FuseDepth (self-match excluded);
    // a doc absent from one list scores only the other's 1/(60+r).
    // Arms and fusion tail are shared with q_hybrid_rrf_indexed /
    // q_hybrid_rrf_agreement via the build memo (hybridLex /
    // hybridVecExact / fuseRrf) — this query's output is the memo-free
    // original, row for row.
    "q_hybrid_rrf" -> ((s, dir) =>
      fuseRrf(hybridLex(s, dir), hybridVecExact(s, dir))
        .orderBy("query_id", "rank")),

    // The SERVING form of the hybrid: the vector arm takes its
    // candidates from the shared angular LSH index (probe → dedup →
    // exact cosine on candidates, the reference's own search shape)
    // instead of scanning the whole corpus per query — at 100 TB the
    // exact arm is a full-corpus pass per query batch, the index arm
    // touches only probed buckets. The fusion tail is IDENTICAL code.
    // The index arm's ranked rows are dumped; DuckDB recomputes every
    // dumped pair's cosine from the embeddings table, re-derives the
    // vector ranks, recomputes the BM25 arm from scratch, and replays
    // the fusion — so a wrong candidate distance, rank, or fused score
    // all hash-mismatch. (The probe-vs-scan rank difference itself is
    // graded by q_hybrid_rrf_agreement.)
    "q_hybrid_rrf_indexed" -> ((s, dir) => {
      val dump = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/hybrid_vec_lsh"
      val ranked = hybridVecIndexed(s, dir)
      LshQueries.dumpAndReload(s, ranked, dump)
      fuseRrf(hybridLex(s, dir), ranked.select("query_id", "doc_id", "rank_vec"))
        .orderBy("query_id", "rank")
    }),

    // Fused-rank agreement between the exact-arm and index-arm hybrids
    // (the reference's recall-of-the-approximation measurement lifted
    // to the fusion level): per query, |top-10_exact ∩ top-10_indexed|
    // / |top-10_exact|, averaged. DuckDB replays BOTH fused lists (the
    // exact one from scratch, the indexed one from the dump the
    // *_indexed query wrote) and re-derives the same aggregate.
    "q_hybrid_rrf_agreement" -> ((s, dir) => {
      val ex = fuseRrf(hybridLex(s, dir), hybridVecExact(s, dir))
        .select(col("query_id"), col("doc_id").as("vec_id"))
      val ix = fuseRrf(hybridLex(s, dir),
          hybridVecIndexed(s, dir).select("query_id", "doc_id", "rank_vec"))
        .select(col("query_id"), col("doc_id").as("vec_id"))
      graft.eval.Eval.setPrecisionRecall(ix, ex)
        .agg(round(avg("recall"), 4).as("fused_agreement"),
          count(lit(1)).as("n_queries"))
    }),

    // Late-interaction (ColBERT-style, Khattab & Zaharia SIGIR 2020)
    // maxsim RERANK of the BM25 candidates: score(q, d) =
    // Σ_{t ∈ q} max_{u ∈ d} cos(E(t), E(u)) over md5-derived ±1
    // embeddings of word-BIGRAM units (the RandomProjection sign rule
    // keyed by the bigram string), so DuckDB re-derives every unit
    // vector and replays the whole rerank. The multi-vector scoring
    // the single-vector hybrid can't express: a doc scores high only
    // if EACH query unit finds its own best match. Units are bigrams,
    // not unigrams, because this corpus's unigram vocabulary is
    // uniformly common (df ≈ 0.75 — every candidate contains every
    // query token and Σ-max saturates at its ceiling for all of them);
    // bigram df ≈ 0.056 keeps the exact-match component discriminative.
    // Serving shape: retrieve (BM25 arm, bounded top-C) → rescore only
    // candidates — cost per query is C × |q_units| × |d_units|,
    // independent of corpus size; the scoring joins broadcast the
    // bounded sides, the corpus is touched only by the candidate docs'
    // bigram explode. ±1 components make every unit-pair cosine an
    // exact multiple of 1/16 — sums and maxes are float-exact across
    // engines.
    "q_maxsim_rerank" -> ((s, dir) => {
      val lex = hybridLex(s, dir).select("query_id", "doc_id")
      val d = docs(s, dir)
      // query units: the MaxSimQTokens smallest md5(bigram) per query
      // doc — an order-free deterministic cap (bounded per-query window)
      val w = Window.partitionBy("query_id").orderBy(md5(col("tok")), col("tok"))
      val qt = d.where(col("doc_id") < NumHybridQueries)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(shingles(col("toks"), 2))).as("tok"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= MaxSimQTokens)
        .select(col("query_id"), col("tok"), tokVec(col("tok")).as("tv"))
      // candidate docs' distinct bigrams + vectors (scan-side md5 map)
      val dt = d.join(broadcast(lex.select("doc_id").distinct()), "doc_id")
        .select(col("doc_id"),
          explode(array_distinct(shingles(col("toks"), 2))).as("dtok"))
        .select(col("doc_id"), col("dtok"), tokVec(col("dtok")).as("dv"))
      topDesc(maxsimScores(lex, qt, dt), "maxsim", TopKDocs, "maxsim")
        .orderBy("query_id", "rank")
    }),

    // MMR diversified rerank (Carbonell & Goldstein, SIGIR 1998):
    // greedy argmax of λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) over the
    // top-MmrDepth cosine candidates of each query-by-example doc. The
    // greedy loop is MmrK UNROLLED dataframe steps (the PageRank-oracle
    // pattern) — every step is a bounded join over ≤ MmrDepth rows per
    // query, so the whole rerank is corpus-size-independent; only the
    // candidate generation touches the corpus (the same bounded-TopK
    // scan the other searches use). Scores are rounded to 6 before each
    // argmax, ties pinned by doc_id — DuckDB replays the identical
    // greedy selection.
    "q_mmr_rerank" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < NumHybridQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = q.join(e, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(exprs.cosineDistNative(col("qv"), col("embedding")), 6)
            .as("dist"))
      // top-MmrDepth candidates, rel = cosine similarity of the rounded
      // distance; persisted — MmrK steps and the pair-sim join all read it
      val cand = graft.text.Dedup.materializeRelease(
        TopK.perQueryTopK(scored, MmrDepth)
          .select(col("query_id"), col("vec_id").as("doc_id"),
            (lit(1.0) - col("dist")).as("rel")))
      // pairwise sims among each query's candidates (≤ MmrDepth² per
      // query, bounded) — also persisted across the MmrK steps
      val sims = graft.text.Dedup.materializeRelease(
        cand.select(col("query_id"), col("doc_id").as("a"))
          .join(cand.select(col("query_id"), col("doc_id").as("b")), "query_id")
          .where(col("a") =!= col("b"))
          .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
          .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
          .select(col("query_id"), col("a"), col("b"),
            (lit(1.0) - round(exprs.cosineDistNative(col("ea"), col("eb")), 6))
              .as("sim")))
      graft.retrieval.Mmr.select(cand, sims, MmrK, MmrLambda)
        .orderBy("query_id", "rank")
    })
  )

  /** Unrolled-join REFERENCE form of greedy MMR selection — row-identical
    * to the deployed aggregator form ([[graft.retrieval.Mmr.select]],
    * proven in MmrSpec the way TopKSpec certifies window vs aggregator;
    * the aggregator form exists because these k tiny data-dependent
    * shuffle rounds cost ~23 s of pure stage latency at sf0.1).
    * `cand` is (query_id, doc_id, rel), `sims` (query_id, a, b, sim)
    * pairwise among each query's candidates. Returns
    * (query_id, rank, doc_id, mmr_score) — k unrolled argmax steps,
    * scores rounded to 6 before each argmax, ties pinned by doc_id
    * (both rules replayed identically by the DuckDB oracle). */
  private[queries] def mmrSelect(cand: DataFrame, sims: DataFrame,
                                 k: Int, lambda: Double): DataFrame = {
    def pick1(scoredStep: DataFrame, rank: Int): DataFrame =
      scoredStep.groupBy("query_id")
        .agg(TopK.topK(1)(col("doc_id"), -col("s")).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(col("query_id"), lit(rank.toLong).as("rank"),
          col("n.vec_id").as("doc_id"), (-col("n.dist")).as("mmr_score"))
    // `selected` is re-read three times per step AND by every later
    // step — left unmaterialized, step t's plan re-executes steps
    // 1..t−1 each time (measured: 19.3 s instead of ~2 s at sf0.1).
    // It is ≤ queries × k rows, so materializing each round is free;
    // the previous round's cache is released as soon as the new one is
    // built on top of it.
    var selected = graft.text.Dedup.materializeRelease(pick1(
      cand.select(col("query_id"), col("doc_id"), round(col("rel"), 6).as("s")), 1))
    for (step <- 2 to k) {
      val rem = cand.join(selected.select("query_id", "doc_id"),
        Seq("query_id", "doc_id"), "left_anti")
      val simToSel = sims
        .join(selected.select(col("query_id"), col("doc_id").as("b")),
          Seq("query_id", "b"))
        .select(col("query_id"), col("a").as("doc_id"), col("sim"))
      val ms = rem.join(simToSel, Seq("query_id", "doc_id"))
        .groupBy("query_id", "doc_id", "rel")
        .agg(max("sim").as("maxsim"))
      val stepScored = ms.select(col("query_id"), col("doc_id"),
        round(lit(lambda) * col("rel")
          - lit(1 - lambda) * col("maxsim"), 6).as("s"))
      selected = graft.text.Dedup.materializeRelease(
        selected.unionByName(pick1(stepScored, step)), selected)
    }
    selected
  }

  /** MMR: candidate depth, picks per query, relevance/diversity mix. */
  val MmrDepth = 20
  val MmrK = 5
  val MmrLambda = 0.5

  /** Late-interaction scoring core: for every (query_id, doc_id) in
    * `cands`, score = Σ over the query's tokens of the max cosine to
    * any of the doc's tokens. `qt` is (query_id, tok, tv), `dt`
    * (doc_id, dtok, dv) — both token frames carry their embedding
    * arrays; both join sides are broadcast (candidate list and query
    * tokens are serving-bounded). Returns (query_id, doc_id, maxsim),
    * the Σ-max rounded to 6. */
  private[queries] def maxsimScores(cands: DataFrame, qt: DataFrame,
                                    dt: DataFrame): DataFrame = {
    // Materialize the doc-token vectors BEFORE the query fan-out.
    // Whole-stage codegen defers a joined-in projection's expressions
    // to their first USE, which here lands after the cands⋈qt fan-out —
    // so without the barrier each doc token's MaxSimDims-md5 `tokVec`
    // array is recomputed once per (query, qtok) pair row instead of
    // once per doc token (measured: 16× the md5 work, 7.2 s → 0.4 s at
    // sf0.1; jstack pinned MessageDigest/NumberConverter as the hot
    // loop). The table is tiny (candidate docs × distinct bigrams);
    // the checkpoint is one bounded job.
    val pairs = dt.localCheckpoint()
      .join(broadcast(cands), "doc_id")
      .join(broadcast(qt), "query_id")
      .select(col("query_id"), col("doc_id"), col("tok"),
        (aggregate(zip_with(col("tv"), col("dv"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / MaxSimDims).as("cosv"))
    pairs
      .groupBy("query_id", "doc_id", "tok").agg(max("cosv").as("m"))
      .groupBy("query_id", "doc_id").agg(round(sum("m"), 6).as("maxsim"))
  }

  /** ±1^MaxSimDims md5-derived token embedding: component j is +1 iff
    * the first hex nibble of md5("<tok>,<j>") is 0-7 — the
    * [[graft.stats.RandomProjection.sign]] rule keyed by the token
    * string, so DuckDB re-derives every vector byte-for-byte. Baked as
    * MaxSimDims codegen'd md5 calls in the token scan (no UDF). */
  private[queries] def tokVec(tok: Column): Column =
    array((0 until MaxSimDims).map { j =>
      when(conv(substring(md5(concat(tok, lit(s",$j"))), 1, 1), 16, 10)
        .cast("int") < 8, lit(1.0)).otherwise(lit(-1.0))
    }: _*)

  /** Shared oracle-SQL fragments (DuckDB). The BM25 CTE chain mirrors
    * [[bm25]] stage-for-stage; the slots take the query-terms CTE body,
    * the self-exclusion predicate, and (for the drifted-corpus rows)
    * an alternative `tok` source CTE body producing (doc_id, toks). */
  private def bm25Cte(qtermsCte: String, exclude: String,
                      tokCte: String = """SELECT doc_id,
      string_split_regex(trim(text), '\s+') AS toks FROM documents""")
      : String =
    s"""tok AS (
       |  $tokCte
       |),
       |qt AS ($qtermsCte),
       |nd AS (SELECT count(*)::DOUBLE AS n FROM tok),
       |adl AS (SELECT avg(len(toks))::DOUBLE AS avgdl FROM tok),
       |tf AS (
       |  SELECT doc_id, len(toks) AS dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM tok)
       |  WHERE term IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY doc_id, dl, term
       |),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |ts AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1.0 + (nd.n - df + 0.5) / (df + 0.5))
       |           * (tf * ($K1 + 1))
       |           / (tf + $K1 * ((1.0 - $B) + $B * dl / adl.avgdl)) AS tscore
       |  FROM tf JOIN dfq USING (term), nd, adl
       |),
       |sc AS (
       |  SELECT qt.query_id, ts.doc_id, round(sum(tscore), 6) AS score
       |  FROM ts JOIN qt USING (term)
       |  $exclude
       |  GROUP BY qt.query_id, ts.doc_id
       |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_bm25_topk" -> {
      val qrows = Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      s"""WITH ${bm25Cte(s"SELECT * FROM (VALUES $qrows) AS v(query_id, term)", "")},
         |rk AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT query_id, rank, doc_id, score
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin
    },

    // Drift + merge-refit replay: DuckDB constructs the drifted corpus
    // itself (rule-derived deletes; re-arrivals with the appended OOV
    // term) and recomputes BM25 from scratch — the merged df/N/avgdl
    // must land exactly where the fresh derivation lands.
    "q_bm25_refit_topk" -> {
      val qrows = RefitQueries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      val driftedTok =
        s"""SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           |  FROM documents WHERE doc_id % $RefitMod <> $RefitDelRem
           |  UNION ALL
           |  SELECT doc_id + $RefitIdOffset,
           |         list_append(string_split_regex(trim(text), '\\s+'),
           |                     'refitterm')
           |  FROM documents WHERE doc_id % $RefitMod = $RefitAddRem""".stripMargin
      s"""WITH ${bm25Cte(s"SELECT * FROM (VALUES $qrows) AS v(query_id, term)",
             "", driftedTok)},
         |rk AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT query_id, rank, doc_id, score
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin
    },

    // Sparse dot-product retrieval: DuckDB re-derives the pruned tf,
    // the df counts, both 6dp weight vectors, the dot product and the
    // (score DESC, doc_id) rank cut — the whole inverted-index serve
    // path cross-engine.
    "q_sparse_dot_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents
         |),
         |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |qsel AS (SELECT DISTINCT term FROM ex WHERE doc_id < $NumHybridQueries),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM ex WHERE term IN (SELECT term FROM qsel)
         |  GROUP BY doc_id, term
         |),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |w AS (
         |  SELECT tf.doc_id, tf.term, round(tf * ln(nd.n / df), 6) AS w
         |  FROM tf JOIN dfq USING (term), nd
         |),
         |qw AS (SELECT doc_id AS query_id, term, w AS qw
         |       FROM w WHERE doc_id < $NumHybridQueries),
         |sc AS (
         |  SELECT qw.query_id, w.doc_id, round(sum(qw.qw * w.w), 6) AS score
         |  FROM w JOIN qw USING (term)
         |  WHERE w.doc_id <> qw.query_id
         |  GROUP BY qw.query_id, w.doc_id
         |),
         |rk AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT query_id, rank, doc_id, score
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin,

    "q_hybrid_rrf" -> {
      val qtermsCte =
        s"""SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
           |  FROM tok WHERE doc_id < $NumHybridQueries""".stripMargin
      s"""WITH ${bm25Cte(qtermsCte, "WHERE ts.doc_id <> qt.query_id")},
         |lex AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM sc QUALIFY rank_lex <= $FuseDepth
         |),
         |vsc AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS cdist
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumHybridQueries
         |),
         |vec AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cdist, doc_id) AS rank_vec
         |  FROM vsc QUALIFY rank_vec <= $FuseDepth
         |),
         |fus AS (
         |  SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         |         coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |         round(coalesce(1.0 / ($RrfK + rank_lex), 0.0)
         |             + coalesce(1.0 / ($RrfK + rank_vec), 0.0), 6) AS rrf,
         |         rank_lex, rank_vec
         |  FROM lex FULL OUTER JOIN vec USING (query_id, doc_id)
         |),
         |rk AS (
         |  SELECT query_id, doc_id, rrf, rank_lex, rank_vec,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fus
         |)
         |SELECT query_id, rank, doc_id, rrf, rank_lex, rank_vec
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin
    },

    // Index-served hybrid: BM25 arm recomputed from scratch; the
    // vector arm's ranks re-derived from the dumped candidate pairs
    // with DuckDB's OWN cosine recompute (a wrong dumped distance
    // flips a rank and the hash); fusion replayed identically.
    "q_hybrid_rrf_indexed" -> {
      val qtermsCte =
        s"""SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
           |  FROM tok WHERE doc_id < $NumHybridQueries""".stripMargin
      s"""WITH ${bm25Cte(qtermsCte, "WHERE ts.doc_id <> qt.query_id")},
         |lex AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM sc QUALIFY rank_lex <= $FuseDepth
         |),
         |dv AS (
         |  SELECT d.query_id, d.doc_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS cdist
         |  FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/hybrid_vec_lsh/*.parquet') d
         |  JOIN embeddings e ON e.vec_id = d.doc_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |),
         |vec AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cdist, doc_id) AS rank_vec
         |  FROM dv
         |),
         |fus AS (
         |  SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         |         coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |         round(coalesce(1.0 / ($RrfK + rank_lex), 0.0)
         |             + coalesce(1.0 / ($RrfK + rank_vec), 0.0), 6) AS rrf,
         |         rank_lex, rank_vec
         |  FROM lex FULL OUTER JOIN vec USING (query_id, doc_id)
         |),
         |rk AS (
         |  SELECT query_id, doc_id, rrf, rank_lex, rank_vec,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fus
         |)
         |SELECT query_id, rank, doc_id, rrf, rank_lex, rank_vec
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin
    },

    // Agreement between the exact-arm and index-arm fused top-10s:
    // DuckDB replays BOTH fusions (exact from scratch, indexed from
    // the dump) and re-derives the Eval.setPrecisionRecall aggregate
    // (n_pred/n_gt inner-joined, hits left-joined and coalesced).
    "q_hybrid_rrf_agreement" -> {
      val qtermsCte =
        s"""SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
           |  FROM tok WHERE doc_id < $NumHybridQueries""".stripMargin
      s"""WITH ${bm25Cte(qtermsCte, "WHERE ts.doc_id <> qt.query_id")},
         |lex AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM sc QUALIFY rank_lex <= $FuseDepth
         |),
         |vsc AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS cdist
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumHybridQueries
         |),
         |vece AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cdist, doc_id) AS rank_vec
         |  FROM vsc QUALIFY rank_vec <= $FuseDepth
         |),
         |dv AS (
         |  SELECT d.query_id, d.doc_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS cdist
         |  FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/hybrid_vec_lsh/*.parquet') d
         |  JOIN embeddings e ON e.vec_id = d.doc_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |),
         |veci AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cdist, doc_id) AS rank_vec
         |  FROM dv
         |),
         |fus_ex AS (
         |  SELECT coalesce(lex.query_id, v.query_id) AS query_id,
         |         coalesce(lex.doc_id, v.doc_id) AS doc_id,
         |         round(coalesce(1.0 / ($RrfK + rank_lex), 0.0)
         |             + coalesce(1.0 / ($RrfK + rank_vec), 0.0), 6) AS rrf
         |  FROM lex FULL OUTER JOIN vece v USING (query_id, doc_id)
         |),
         |top_ex AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fus_ex) WHERE rank <= $TopKDocs
         |),
         |fus_ix AS (
         |  SELECT coalesce(lex.query_id, v.query_id) AS query_id,
         |         coalesce(lex.doc_id, v.doc_id) AS doc_id,
         |         round(coalesce(1.0 / ($RrfK + rank_lex), 0.0)
         |             + coalesce(1.0 / ($RrfK + rank_vec), 0.0), 6) AS rrf
         |  FROM lex FULL OUTER JOIN veci v USING (query_id, doc_id)
         |),
         |top_ix AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fus_ix) WHERE rank <= $TopKDocs
         |),
         |np AS (SELECT query_id, count(*) AS n_pred FROM top_ix GROUP BY query_id),
         |ng AS (SELECT query_id, count(*) AS n_gt FROM top_ex GROUP BY query_id),
         |h AS (
         |  SELECT i.query_id, count(*) AS hits
         |  FROM top_ix i JOIN top_ex e USING (query_id, doc_id)
         |  GROUP BY i.query_id
         |),
         |pr AS (
         |  SELECT np.query_id,
         |         round(coalesce(h.hits, 0) / ng.n_gt, 6) AS recall
         |  FROM np JOIN ng USING (query_id) LEFT JOIN h USING (query_id)
         |)
         |SELECT round(avg(recall), 4) AS fused_agreement,
         |       count(*) AS n_queries
         |FROM pr""".stripMargin
    },

    // Maxsim rerank: DuckDB recomputes the BM25 candidate lists from
    // scratch, re-derives EVERY ±1 token embedding from the md5 sign
    // rule, and replays the full Σ-max late-interaction scoring + the
    // (maxsim DESC, doc_id) ranking. ±1 components keep every pair
    // cosine an exact multiple of 1/MaxSimDims, so no float fuzz
    // crosses the engines.
    "q_maxsim_rerank" -> {
      val qtermsCte =
        s"""SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
           |  FROM tok WHERE doc_id < $NumHybridQueries""".stripMargin
      def sgn(tokExpr: String) =
        s"(CASE WHEN strpos('01234567', substr(md5($tokExpr || ',' || j), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END)"
      s"""WITH ${bm25Cte(qtermsCte, "WHERE ts.doc_id <> qt.query_id")},
         |lex AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank_lex
         |  FROM sc QUALIFY rank_lex <= $FuseDepth
         |),
         |qbg AS (
         |  SELECT doc_id AS query_id,
         |         unnest(list_distinct(list_transform(range(0, len(toks)-1),
         |           i -> array_to_string(toks[i+1:i+2], ' ')))) AS term
         |  FROM tok WHERE doc_id < $NumHybridQueries
         |),
         |qtok AS (
         |  SELECT query_id, term AS tok FROM (
         |    SELECT query_id, term,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY md5(term), term) AS rn
         |    FROM qbg
         |  ) WHERE rn <= $MaxSimQTokens
         |),
         |dtok AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(list_transform(range(0, len(toks)-1),
         |           i -> array_to_string(toks[i+1:i+2], ' ')))) AS dtok
         |  FROM tok WHERE doc_id IN (SELECT DISTINCT doc_id FROM lex)
         |),
         |prs AS (
         |  SELECT l.query_id, l.doc_id, p.tok,
         |         list_sum(list_transform(range($MaxSimDims), j ->
         |           ${sgn("p.tok")} * ${sgn("dk.dtok")})) / $MaxSimDims.0 AS cosv
         |  FROM lex l
         |  JOIN qtok p ON p.query_id = l.query_id
         |  JOIN dtok dk ON dk.doc_id = l.doc_id
         |),
         |ms AS (
         |  SELECT query_id, doc_id, round(sum(m), 6) AS maxsim
         |  FROM (SELECT query_id, doc_id, tok, max(cosv) AS m
         |        FROM prs GROUP BY query_id, doc_id, tok)
         |  GROUP BY query_id, doc_id
         |),
         |rk AS (
         |  SELECT query_id, doc_id, maxsim,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY maxsim DESC, doc_id) AS rank
         |  FROM ms
         |)
         |SELECT query_id, rank, doc_id, maxsim
         |FROM rk WHERE rank <= $TopKDocs ORDER BY query_id, rank""".stripMargin
    },

    // MMR: DuckDB replays the identical greedy selection — MmrK
    // unrolled steps (the PageRank-oracle pattern), each one an
    // anti-filter + max-sim-to-selected + argmax with the same rounding
    // and doc_id tie rule as the Spark side.
    "q_mmr_rerank" -> {
      val steps = (2 to MmrK).map(mmrStepSql).mkString(",\n")
      val unionAll = (1 to MmrK).map(t => s"SELECT * FROM s$t")
        .mkString("\n  UNION ALL ")
      s"""WITH qv AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
         |  FROM embeddings WHERE vec_id < $NumHybridQueries
         |),
         |sc AS (
         |  SELECT qv.query_id, e.vec_id AS doc_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(qv.qe, e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(qv.qe, e.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM qv JOIN embeddings e ON e.vec_id <> qv.query_id
         |),
         |cand AS (
         |  SELECT query_id, doc_id, 1.0 - dist AS rel FROM (
         |    SELECT query_id, doc_id, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id) AS rn
         |    FROM sc) WHERE rn <= $MmrDepth
         |),
         |sims AS (
         |  SELECT c1.query_id, c1.doc_id AS a, c2.doc_id AS b,
         |    1.0 - round(CASE WHEN 1.0 - list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) END, 6) AS sim
         |  FROM cand c1
         |  JOIN cand c2 ON c2.query_id = c1.query_id AND c2.doc_id <> c1.doc_id
         |  JOIN embeddings ea ON ea.vec_id = c1.doc_id
         |  JOIN embeddings eb ON eb.vec_id = c2.doc_id
         |),
         |s1 AS (
         |  SELECT query_id, 1::BIGINT AS rank, doc_id, sc AS mmr_score FROM (
         |    SELECT query_id, doc_id, round(rel, 6) AS sc,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(rel, 6) DESC, doc_id) AS rn
         |    FROM cand) WHERE rn = 1
         |),
         |sel1 AS (SELECT query_id, doc_id FROM s1),
         |$steps
         |SELECT query_id, rank, doc_id, mmr_score FROM (
         |  $unionAll
         |) ORDER BY query_id, rank""".stripMargin
    }
  )

  /** One unrolled MMR greedy step (DuckDB): drop already-selected
    * candidates, score λ·rel − (1−λ)·max-sim-to-selected, argmax per
    * query with the (score DESC, doc_id) tie rule. */
  private def mmrStepSql(t: Int): String = {
    val obj = s"round($MmrLambda * rel - ${1 - MmrLambda} * maxsim, 6)"
    s"""m$t AS (
       |  SELECT c.query_id, c.doc_id, c.rel, max(s.sim) AS maxsim
       |  FROM cand c
       |  JOIN sims s ON s.query_id = c.query_id AND s.a = c.doc_id
       |  JOIN sel${t - 1} p ON p.query_id = s.query_id AND p.doc_id = s.b
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
       |                    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
       |  GROUP BY c.query_id, c.doc_id, c.rel
       |),
       |s$t AS (
       |  SELECT query_id, $t::BIGINT AS rank, doc_id, sc AS mmr_score FROM (
       |    SELECT query_id, doc_id, $obj AS sc,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $obj DESC, doc_id) AS rn
       |    FROM m$t) WHERE rn = 1
       |),
       |sel$t AS (SELECT query_id, doc_id FROM sel${t - 1}
       |          UNION ALL SELECT query_id, doc_id FROM s$t)""".stripMargin
  }
}
