package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.text.TextFunctions._

/** Reusable document-deduplication operators — the library API behind
  * the `q_exact_dedup` / `q_ngram_jaccard_pairs` / `q_minhash_near_dup`
  * driver queries (which pin their own parameters for oracle
  * determinism).
  *
  * Scale knobs the query forms don't expose:
  *
  *   - `maxDocFreqRatio`: drop shingles present in more than this
  *     fraction of documents BEFORE any pair-finding join. Hot shingles
  *     (boilerplate, stopword runs) are the skew that kills shingle-keyed
  *     shuffles at 100 TB — a shingle shared by f docs contributes f^2
  *     join rows, so capping document frequency bounds per-key fan-out
  *     with negligible recall cost (ubiquitous shingles carry no
  *     near-dup signal).
  *   - `numHashes`/`bandRows`: the MinHash S-curve operating point
  *     (P[candidate] = 1-(1-j^r)^b).
  */
object Dedup {

  final case class MinHashConfig(
      shingleN: Int = 3,
      numHashes: Int = 8,
      bandRows: Int = 2,
      jaccardThreshold: Double = 0.5,
      maxDocFreqRatio: Double = 1.0)

  /** Compute the (small) pair result into its own cache with one pass,
    * then release the large intermediate caches it was built from. In a
    * long-lived session running many dedup jobs, leaving shingle/band
    * caches persisted accumulates executor memory for the life of the
    * session; the result itself (verified pairs) is tiny by comparison.
    * Callers that are done with the result may `unpersist()` it too. */
  private[graft] def materializeRelease(out: DataFrame, intermediates: DataFrame*): DataFrame = {
    val cached = out.persist()
    cached.count()
    intermediates.foreach(_.unpersist(false))
    cached
  }

  /** (id, text) -> groups of exact duplicates: (dup_key, n_docs, doc_ids).
    * Hash-groupBy on md5 — one shuffle keyed by digest. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("dup_key"))
      .groupBy("dup_key")
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list("doc_id")).as("doc_ids"))
      .where(col("n_docs") > 1)

  /** Distinct (doc_id, s) shingle rows, uncapped — the explode-heavy
    * stage every dedup pipeline starts from. Persist THIS frame before
    * deriving anything downstream that scans it twice (the hot-shingle
    * cap does: once for document frequencies, once for the anti-join). */
  def rawShingleRows(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), shingleN))).as("s"))

  /** Document-frequency cap over a (doc_id, s) shingle table (see class
    * doc): drops shingles present in more than `maxDocFreqRatio * nDocs`
    * documents via a broadcast anti-join. Scans `sh` twice — pass a
    * persisted frame. */
  def capHotShingles(sh: DataFrame, nDocs: Long,
                     maxDocFreqRatio: Double): DataFrame = {
    val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreqRatio * nDocs)
      .select("s")
    sh.join(broadcast(hot), Seq("s"), "left_anti")
  }

  /** Distinct (doc_id, s) shingle rows, with the document-frequency cap
    * applied (see class doc). NOTE: when the cap is active the raw
    * shingle subtree appears twice in this plan — callers on a hot path
    * should compose [[rawShingleRows]].persist() + [[capHotShingles]]
    * instead (as [[minhashNearDup]] does) so the shingling runs once. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String,
                   cfg: MinHashConfig): DataFrame = {
    val sh = rawShingleRows(docs, idCol, textCol, cfg.shingleN)
    if (cfg.maxDocFreqRatio >= 1.0) sh
    else capHotShingles(sh, docs.count(), cfg.maxDocFreqRatio)
  }

  /** Per-doc capped shingle ARRAY — the row-level form of the
    * document-frequency cap. The hot set broadcasts safely at ANY corpus
    * size: Σ df = nDocs × avgShinglesPerDoc, so at most
    * avgShinglesPerDoc / maxDocFreqRatio distinct shingles can exceed
    * df > maxDocFreqRatio × nDocs — the hot list is bounded by document
    * shape, not corpus size.
    *
    * Docs shorter than `shingleN` tokens (no shingles) are dropped here,
    * as a filter on the cheap token count BEFORE any shingle work — a
    * post-hoc `size(sh) > 0` filter gets pushed below the projection and
    * re-evaluates the whole shingle build per row (see class doc on
    * projection collapse).
    *
    * When the cap is active, docs whose shingles are ALL hot come out of
    * the `array_except` empty and are dropped too — an empty shingle set
    * carries no near-dup signal, and letting it through would give every
    * boilerplate-only doc an all-NULL signature and therefore the SAME
    * band key (md5 of the empty string) in every band: a quadratic
    * candidate self-join over exactly the skew the cap exists to remove
    * (plus a 0/0 Jaccard that throws under ANSI mode). The filter sits
    * above the broadcast join, so its pushdown re-evaluates only the
    * cheap `array_except` against materialized attributes — never the
    * shingle build (`withSh` is below the join, out of pushdown's
    * reach).
    *
    * The tokens → shingles chain is two projections on purpose:
    * Catalyst's CollapseProject inlines a lower projection into its
    * consumer unless the consumer references a non-cheap expression more
    * than once. `shingles` references `toks` three times (two size
    * bounds + the slice), so the tokenization materializes once per row
    * instead of once per shingle. */
  /** Raw (doc_id, sh) distinct-shingle arrays, no DF cap — the input
    * shape of [[bandRows]] (public: the incremental path builds its
    * stored band index from this, applying [[hotShingleRow]] capping —
    * or none — explicitly). */
  def rawShingleArrays(docs: DataFrame, idCol: String,
                       textCol: String, cfg: MinHashConfig): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= cfg.shingleN)
      .select(col("doc_id"),
        array_distinct(shingles(col("toks"), cfg.shingleN)).as("sh"))

  /** The hot-shingle row (ONE bounded row: shingles with document
    * frequency > ratio × corpus) — computable once at fit time and
    * freezable as the incremental path's cap artifact (the same
    * frozen-model contract as every index append: a shingle that turns
    * hot only AFTER the fit keeps generating candidates until refit —
    * extra cost, never wrong answers, since every candidate is
    * exact-verified). */
  def hotShingleRow(docs: DataFrame, idCol: String, textCol: String,
                    cfg: MinHashConfig): DataFrame = {
    val nDocs = docs.count()
    rawShingleArrays(docs, idCol, textCol, cfg)
      .select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > cfg.maxDocFreqRatio * nDocs)
      .agg(collect_list("s").as("hot"))
  }

  /** Apply a (possibly frozen) hot list to shingle arrays. */
  private[text] def capWithHot(shArr: DataFrame, hotRow: DataFrame): DataFrame =
    shArr.crossJoin(broadcast(hotRow))
      .select(col("doc_id"), array_except(col("sh"), col("hot")).as("sh"))
      .where(size(col("sh")) > 0)

  private[text] def cappedShingleArrays(docs: DataFrame, idCol: String,
                                        textCol: String, cfg: MinHashConfig): DataFrame = {
    val withSh = rawShingleArrays(docs, idCol, textCol, cfg)
    if (cfg.maxDocFreqRatio >= 1.0) withSh
    else capWithHot(withSh, hotShingleRow(docs, idCol, textCol, cfg))
  }

  /** Build the STORABLE band index of a corpus in one call:
    * (doc_id, sh, band, bkey). `hot = None` derives the DF cap from
    * `docs` itself (the fit-time build); `Some(row)` applies a frozen
    * hot list instead (re-banding a corpus against another corpus's cap
    * geometry — rarely what an incremental ARRIVALS batch wants, which
    * is [[minhashNearDupIncremental]]'s own `hot` parameter). */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
                cfg: MinHashConfig = MinHashConfig(),
                hot: Option[DataFrame] = None): DataFrame = {
    val raw = rawShingleArrays(docs, idCol, textCol, cfg)
    val capped = hot match {
      case Some(h) => capWithHot(raw, h)
      case None => if (cfg.maxDocFreqRatio >= 1.0) raw
        else capWithHot(raw, hotShingleRow(docs, idCol, textCol, cfg))
    }
    bandRows(capped, cfg)
  }

  /** (doc_id, sh, band, bkey) band rows from a shingle-array frame
    * ([[cappedShingleArrays]] output) — the STORABLE band index of a
    * corpus: an incremental batch bands map-side through the same
    * column builders and joins these rows, never re-reading the corpus
    * ([[minhashNearDupIncremental]]).
    *
    * Chained projections: hash values once per shingle, then the
    * signature from them, then band keys from the signature — each
    * array materializes per row instead of re-deriving per reference
    * (the builders reference their input multiple times, which is what
    * stops CollapseProject from inlining the chain). */
  def bandRows(shArrays: DataFrame, cfg: MinHashConfig): DataFrame = {
    require(cfg.numHashes % cfg.bandRows == 0, "bands must tile the signature")
    require(cfg.numHashes <= HashA.length,
      s"at most ${HashA.length} hash functions available")
    shArrays
      .select(col("doc_id"), col("sh"),
        transform(col("sh"), s => hash60(0, s) % FpMod).as("hv"))
      .select(col("doc_id"), col("sh"),
        minhashSigFromHashes(col("hv"), cfg).as("sig"))
      .select(col("doc_id"), col("sh"),
        explode(bandKeysCol(col("sig"), cfg)).as("bk"))
      .select(col("doc_id"), col("sh"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification:
    * (doc_a, doc_b, jac).
    *
    * The ENTIRE pipeline is per-row projections plus ONE shuffle — the
    * (band, bkey)-keyed candidate self-join:
    *
    *   - signatures/band keys come from the same stateless column
    *     builders the streaming path uses ([[minhashSigCol]] family),
    *     chained as separate projections so the md5 per shingle is
    *     computed once per row, not once per hash function;
    *   - the document-frequency cap is a per-row `array_except` against
    *     a broadcast hot list (bounded by document shape — see
    *     [[cappedShingleArrays]]) instead of an exploded anti-join;
    *   - verification rides the candidate join: each side carries its
    *     (capped, distinct) shingle array, so exact Jaccard is an
    *     `array_intersect` on rows already joined — no extra joins, no
    *     corpus-sized broadcast. "Shuffle features, not bytes": only
    *     shingle arrays of banding-collided docs ever shuffle.
    *
    * Value-identical to the exploded construction (same hash family,
    * same banding partition, same capped shingle sets). */
  def minhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val banded = bandRows(cappedShingleArrays(docs, idCol, textCol, cfg), cfg)
      // persisted: both sides of the candidate self-join
      .persist()
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      // a pair colliding in several bands appears once per band; all its
      // rows carry identical shingle arrays, so keeping any one is exact
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jac"))
      .where(col("jac") >= cfg.jaccardThreshold)
    materializeRelease(pairs, banded)
  }

  /** Incremental near-dup: the pairs INVOLVING an arrivals batch,
    * against a corpus whose band index is already stored — the form a
    * growing 100 TB corpus actually runs, since re-banding everything
    * per batch is a corpus scan per batch.
    *
    *   - `baseBands` is the stored [[bandRows]] table of the existing
    *     corpus ((doc_id, sh, band, bkey) — maintainable by the LSM
    *     loop like any code table);
    *   - arrivals band MAP-SIDE through the same column builders, with
    *     the FROZEN `hot` list ([[hotShingleRow]] at fit time) so their
    *     shingle capping matches the base's (frozen-model freshness
    *     caveat on [[hotShingleRow]]);
    *   - candidates = arrivals⋈base on (band, bkey) — the arrivals side
    *     is batch-sized and broadcast, the corpus-sized band table
    *     never shuffles — plus the arrivals self-join;
    *   - every candidate is exact-Jaccard-verified inline (shingle
    *     arrays ride the join rows, as in [[minhashNearDup]]).
    *
    * Base∖base pairs cannot change (their band rows are static), so
    * incremental pairs ∪ the stored pairs IS the full recompute —
    * pinned by IncrementalDedupSpec against [[minhashNearDup]] on the
    * union corpus. */
  def minhashNearDupIncremental(baseBands: DataFrame, arrivals: DataFrame,
                                idCol: String, textCol: String,
                                cfg: MinHashConfig = MinHashConfig(),
                                hot: Option[DataFrame] = None): DataFrame = {
    val (pairs, aBands) = incrementalPairsWithBands(baseBands, arrivals,
      idCol, textCol, cfg, hot)
    materializeRelease(pairs, aBands)
  }

  /** [[minhashNearDupIncremental]]'s working form: returns the verified
    * pairs TOGETHER with the arrivals' (persisted) band rows, so a
    * caller that appends the admitted subset to a stored band index
    * ([[DedupGate.onBatch]]) reuses the banding pass instead of
    * re-shingling the batch — identical rows, half the per-batch
    * map-side cost. The caller owns the returned bands' lifetime
    * (unpersist after the append; [[minhashNearDupIncremental]] wraps
    * this with [[materializeRelease]] for pair-only consumers). */
  def incrementalPairsWithBands(baseBands: DataFrame, arrivals: DataFrame,
                                idCol: String, textCol: String,
                                cfg: MinHashConfig = MinHashConfig(),
                                hot: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val aSh = {
      val raw = rawShingleArrays(arrivals, idCol, textCol, cfg)
      hot.fold(raw)(h => capWithHot(raw, h))
    }
    val aBands = bandRows(aSh, cfg).persist()
    val base = baseBands.select(col("doc_id").as("b_doc"), col("sh").as("b_sh"),
      col("band"), col("bkey"))
    val arr = aBands.select(col("doc_id").as("a_doc"), col("sh").as("a_sh"),
      col("band"), col("bkey"))
    val cross = base.join(broadcast(arr), Seq("band", "bkey"))
      .where(col("b_doc") =!= col("a_doc"))
      .select(
        when(col("b_doc") < col("a_doc"), col("b_doc")).otherwise(col("a_doc")).as("doc_a"),
        when(col("b_doc") < col("a_doc"), col("b_sh")).otherwise(col("a_sh")).as("sh_a"),
        when(col("b_doc") < col("a_doc"), col("a_doc")).otherwise(col("b_doc")).as("doc_b"),
        when(col("b_doc") < col("a_doc"), col("a_sh")).otherwise(col("b_sh")).as("sh_b"))
    val self = aBands.as("a")
      .join(aBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val pairs = cross.unionByName(self)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jac"))
      .where(col("jac") >= cfg.jaccardThreshold)
    (pairs, aBands)
  }

  /** Fold an incremental batch's pairs into an existing cluster
    * assignment without re-running connected components over the full
    * pair history: each old cluster collapses to a star around its
    * representative (cluster ids here ARE min doc ids, so the star
    * preserves both connectivity and labeling), new pairs bridge stars
    * and arrivals, and CC over (stars ∪ new pairs) converges in
    * O(merged-cluster diameter) — untouched stars settle in one round.
    * Output covers every previously-clustered doc plus arrivals
    * appearing in a pair; singleton arrivals stay absent, as in
    * [[connectedComponents]]. Identity with the full recompute
    * (CC over ALL pairs of the union corpus) is pinned by
    * IncrementalDedupSpec. */
  def mergeClusters(oldAssign: DataFrame, newPairs: DataFrame,
                    maxIters: Int = 25): DataFrame = {
    val stars = oldAssign.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    connectedComponents(
      stars.unionByName(newPairs.select("doc_a", "doc_b")), maxIters)
  }

  /** SimHash near-dup pairs WITHOUT the quadratic all-pairs join: the
    * 48-bit simhash splits into `maxHamming + 1` contiguous bands — by
    * pigeonhole, any pair within `maxHamming` bit flips matches exactly
    * on at least one band — candidates come from a band-keyed
    * equi-join, then `bit_count(xor)` verifies the true distance.
    * Output: (doc_a, doc_b, ham). */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 8, shingleN: Int = 3): DataFrame = {
    val sh = simhash48(docs, idCol, textCol, shingleN).persist()
    materializeRelease(simhashBandPairs(sh, maxHamming), sh)
  }

  /** The scale-safe half of [[simhashNearDup]], reusable over any
    * precomputed (doc_id, simhash) table: band-keyed candidate join +
    * exact hamming verification. Never all-pairs — the only shuffle keys
    * are (band, bkey). */
  def simhashBandPairs(sh: DataFrame, maxHamming: Int = 8): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 48)
    val nBands = maxHamming + 1
    val bandBits = 48 / nBands // trailing bits fold into the last band
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bkey",
        when(col("band") === nBands - 1,
          expr(s"shiftright(simhash, (${nBands - 1} * $bandBits))"))
          .otherwise(expr(
            s"shiftright(simhash, band * $bandBits) & ${(1L << bandBits) - 1}")))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("sim_a"),
        col("b.doc_id").as("doc_b"), col("b.simhash").as("sim_b"))
      .distinct()
    cands
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("ham"))
      .where(col("ham") <= maxHamming)
  }

  /** (doc_id, simhash): 48-bit frequency-weighted shingle SimHash (same
    * construction as the oracle-checked `q_simhash` driver query). */
  def simhash48(docs: DataFrame, idCol: String, textCol: String,
                shingleN: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), shingleN)).as("sgl"))
      .select(col("doc_id"), hash48(0, col("sgl")).as("h48"))
      .select(col("doc_id"), col("h48"), explode(sequence(lit(0), lit(47))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(when(expr("(h48 >> b) & 1") === 1, 1L).otherwise(-1L)).as("sgn"))
      .groupBy("doc_id")
      .agg(sum(when(col("sgn") > 0, expr("shiftleft(cast(1 as bigint), b)"))
        .otherwise(0L)).as("simhash"))

  /** Per-row MinHash signature (ARRAY<BIGINT>, length `numHashes`) of a
    * token array — the stateless column form of [[minhashNearDup]]'s
    * signature stage: no explode/groupBy, so it computes identically in
    * batch and on an unbounded stream (no aggregation state). Value-equal
    * to the exploded construction: min over shingles of
    * `(A_i * hash60(s) + B_i) mod M` per hash function. Docs shorter
    * than `shingleN` tokens have no shingles — their signature elements
    * are null; filter on shingle count first.
    *
    * Cost note: because the shingle-hash transform is INLINED here (the
    * price of a single stateless column), CollapseProject re-evaluates
    * the md5 behind `hash60` once per hash function — the measured 8x
    * per-row blowup described on [[minhashSigFromHashes]]. That is the
    * right trade only where statelessness is required (a streaming
    * projection, a single-expression API). Batch pipelines should chain
    * separate projections (tokens → shingles → hashes →
    * [[minhashSigFromHashes]] → [[bandKeysCol]]) as [[minhashNearDup]]
    * and [[nearDupAgainstCorpus]] do. */
  def minhashSigCol(toks: org.apache.spark.sql.Column,
                    cfg: MinHashConfig): org.apache.spark.sql.Column =
    minhashSigFromHashes(
      transform(array_distinct(shingles(toks, cfg.shingleN)),
        s => hash60(0, s) % FpMod),
      cfg)

  /** Signature from an ARRAY<BIGINT> of per-shingle base hashes
    * (`hash60 % FpMod`). Split out so batch pipelines can materialize
    * the hash array as its own projection — the md5 behind `hash60` is
    * the dominant per-row cost, and an inlined expression would
    * re-evaluate it once per hash function.
    *
    * Built as an `array(...)` of one `array_min` per hash function
    * (literal multipliers, not `element_at` lookups) so the input column
    * is referenced `numHashes` times — CollapseProject then keeps the
    * hash-array projection materialized instead of inlining the md5
    * transform into every minimum (a measured 8x per-row blowup). Pass a
    * COLUMN, not an inline expression: an inline argument is re-evaluated
    * once per hash function regardless. */
  def minhashSigFromHashes(hashes: org.apache.spark.sql.Column,
                           cfg: MinHashConfig): org.apache.spark.sql.Column =
    array((0 until cfg.numHashes).map(i =>
      array_min(transform(hashes, h =>
        (lit(HashA(i)) * h + lit(HashB(i))) % FpMod))): _*)

  /** ARRAY<STRUCT<band INT, bkey STRING>> LSH band keys of a signature —
    * same md5-of-joined-sigs key as the batch banding. One literal-band
    * struct per element (references `sig` once per band), so a sig
    * column feeding this stays a materialized projection rather than
    * being inlined and recomputed per band (see [[minhashSigFromHashes]]
    * on CollapseProject). */
  def bandKeysCol(sig: org.apache.spark.sql.Column,
                  cfg: MinHashConfig): org.apache.spark.sql.Column = {
    val nBands = cfg.numHashes / cfg.bandRows
    array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", transform(
          slice(sig, b * cfg.bandRows + 1, cfg.bandRows),
          x => x.cast("string")))).as("bkey"))): _*)
  }

  /** Near-dup matching of a document stream against a static corpus —
    * the on-ingest dedup shape: banded-MinHash candidate join + exact
    * Jaccard verification, built ONLY from per-row projections — the
    * chained tokens → shingles → hashes → [[minhashSigFromHashes]] →
    * [[bandKeysCol]] form (value-identical to [[minhashSigCol]], minus
    * its per-hash md5 re-evaluation) — and one stream-static equi-join
    * on (band, bkey), so it needs NO streaming aggregation state and
    * runs in append mode without a watermark. Works identically on two
    * batch frames (spec'd stream == batch).
    *
    * Emits (stream_id, corpus_id, jac) — once per colliding band; dedup
    * downstream (`dropDuplicates` with a watermark, or an idempotent
    * sink keyed on the pair). At 100 TB the static side's banded table
    * would be precomputed and persisted bucketed by (band, bkey). */
  def nearDupAgainstCorpus(stream: DataFrame, idCol: String, textCol: String,
                           corpus: DataFrame,
                           cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    require(cfg.numHashes % cfg.bandRows == 0, "bands must tile the signature")
    // Same chained-projection discipline as [[minhashNearDup]] (tokens →
    // shingles → hashes → signature → band keys, each its own stateless
    // projection) — all per-row, so the chain is identical on a stream.
    def prep(df: DataFrame, prefix: String): DataFrame = {
      val id = s"${prefix}_id"
      val sh = s"${prefix}_sh"
      df.select(col(idCol).as(id), tokens(col(textCol)).as("toks"))
        .where(size(col("toks")) >= cfg.shingleN)
        .select(col(id),
          array_distinct(shingles(col("toks"), cfg.shingleN)).as(sh))
        .select(col(id), col(sh),
          transform(col(sh), s => hash60(0, s) % FpMod).as("hv"))
        .select(col(id), col(sh),
          minhashSigFromHashes(col("hv"), cfg).as("sig"))
        .select(col(id), col(sh), explode(bandKeysCol(col("sig"), cfg)).as("bk"))
        .select(col(id), col(sh),
          col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    }
    val inter = size(array_intersect(col("stream_sh"), col("corpus_sh")))
    prep(stream, "stream").join(prep(corpus, "corpus"), Seq("band", "bkey"))
      .where(col("stream_id") =!= col("corpus_id"))
      .select(col("stream_id"), col("corpus_id"),
        (inter.cast(DoubleType) /
          (size(col("stream_sh")) + size(col("corpus_sh")) - inter)).as("jac"))
      .where(col("jac") >= cfg.jaccardThreshold)
  }

  /** Connected components over an undirected near-dup pair list
    * (doc_a, doc_b) — the grouping step a dedup pipeline needs after
    * pair-finding: every doc in a component gets the component's minimum
    * doc id as `cluster_id`, so "keep one per cluster" is a trivial
    * `doc_id === cluster_id` filter.
    *
    * Min-label propagation with POINTER JUMPING from round 3: each
    * round every node adopts the minimum label in its closed
    * neighborhood, then (rounds ≥ 3) shortcuts to its label's label —
    * covered distance roughly doubles per round, so convergence is
    * O(log diameter) rounds instead of O(diameter). Near-dup
    * components are shallow cliques (measured 2 rounds INCLUDING the
    * no-change confirm round — they converge before a jump could help,
    * so rounds 1-2 stay plain and they never pay the self-join), but
    * the mutual-kNN cluster graphs measured 17 and 9 plain rounds at
    * sf0.1 (OPTIMIZATION_r18.md §Measurement method) — the regime the jump exists for (17→11,
    * 9→7 measured; starting the jump at round 2 instead saved no
    * rounds on the 17-case and one on the 9-case while taxing every
    * shallow caller's confirm round — measured, not guessed). Each round is one equi-join + one aggregation + (from
    * round 2) one label-keyed self-join over the EDGE/label lists only
    * — never all-pairs, no driver-side graph, state is one row per
    * node; the converged labeling (min id per component) is identical
    * either way (DedupSpec pins it against the plain loop).
    *
    * @return (doc_id, cluster_id), one row per doc appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // localCheckpoint (not persist) each round: iterative joins grow the
    // logical plan by one join-tree per round, and an unbroken lineage
    // makes planning/explain exponential by round ~10 (the classic
    // iterative-dataflow trap). Checkpointing truncates lineage so every
    // round plans against a materialized leaf. On a cluster with
    // executor-loss concerns, swap for reliable checkpoint(dir).
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("dst_label").as("nbr_min"))
      // Convergence detection rides the round's own materialization: a
      // `changed` flag is computed inside the join, the eager
      // localCheckpoint is the round's single join job, and reading
      // max(changed) back is a scan of the checkpointed blocks — not the
      // extra labels⋈next join per round this used to cost.
      val prop = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_label"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("mid"))
      // Pointer jumping from round 3 (label(v) ← label(label(v)), the
      // classic doubling step): plain propagation converges in
      // O(component diameter) rounds, and the board's mutual-kNN
      // cluster graphs MEASURE 17 and 9 rounds at sf0.1
      // (OPTIMIZATION_r18.md §Measurement method)
      // — chains, not the shallow near-dup cliques the original
      // 2-3-round assumption covered. The jump makes covered distance
      // roughly double per round (d ← 2d+1), so deep components
      // converge in O(log diameter) rounds at the cost of one
      // label-keyed self-join per round. Rounds 1-2 stay plain:
      // clique-shaped inputs (every near-dup consumer — measured 2
      // rounds incl. the confirm round) converge before a jump could
      // help and never pay the join, and the deep cases measured the
      // same round count as a round-2 start (class doc).
      // Label values are always ids of nodes in the same component
      // (min over member ids, inductively), so the jump join always
      // finds its target and the converged output is the identical
      // min-of-component labeling — pinned by DedupSpec against the
      // plain loop's labels, with a deep chain converging within the
      // doubling bound.
      // prop is referenced twice below — lazy checkpoint so the round's
      // join work runs once, inside the eager checkpoint's job.
      val next =
        if (iter < 2) prop
          .select(col("doc_id"), col("mid").as("cluster_id"),
            (col("mid") < col("old_label")).as("changed"))
          .localCheckpoint()
        else {
          val p = prop.localCheckpoint(eager = false)
          p.join(p.select(col("doc_id").as("jid"), col("mid").as("jlab")),
              col("mid") === col("jid"), "left")
            .select(col("doc_id"),
              coalesce(col("jlab"), col("mid")).as("cluster_id"),
              (coalesce(col("jlab"), col("mid")) < col("old_label"))
                .as("changed"))
            .localCheckpoint()
        }
      val anyChanged = next.agg(max(col("changed"))).head()
      labels = next.select("doc_id", "cluster_id")
      converged = anyChanged.isNullAt(0) || !anyChanged.getBoolean(0)
      iter += 1
    }
    edges.unpersist(false)
    // observability for the round-count cost model (per-round cost is
    // fixed: join + agg + checkpoint + convergence read) — the round
    // counts that motivated the pointer jump (OPTIMIZATION_r18.md
    // §Measurement method) were read off these lines at DEBUG
    log.debug(s"connectedComponents converged after $iter rounds " +
      s"(maxIters $maxIters)")
    labels
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact Jaccard for explicit candidate pairs over a shingle table.
    *
    * Scale note: every broadcast here is bounded by the CANDIDATE set
    * (itself bounded by banding + the DF cap), never by the corpus —
    * `sizes` is restricted to docs appearing in `cands` before the
    * broadcast, so a 100x corpus grows the broadcast only through the
    * pairs actually found. */
  def verifyJaccard(cands: DataFrame, sh: DataFrame): DataFrame = {
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    val sizes = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sa = sh.join(broadcast(cands), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("s").as("sa_s"))
    val inter = sa
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa_s") === col("sb.s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))).as("jac"))
  }
}
