package graft.retrieval

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.LsmStore.Manifest

/** A STORED lexical retrieval index — the serving form of the BM25 /
  * sparse dot-product queries (graft.queries.RetrievalQueries): the
  * per-(doc, term) postings are computed ONCE over the corpus and
  * persisted, and query serving joins the stored postings instead of
  * re-running the tokenize→tf→df pipeline per call (at 100 TB the
  * rebuild is a full corpus pass; the stored table is an inverted
  * index probed by the query's terms only).
  *
  * Layout at `path` (the RAW-postings layout — scores are derived at
  * probe time, which is what makes the stats refit O(drift)):
  *   - `tfs`     (doc_id, term, tf, dl, seq): raw term frequencies +
  *     doc length. `seq` survives compaction — [[mergeRefit]]'s fence
  *     arithmetic needs to know which rows the stats already cover;
  *   - `doclens` (doc_id, dl, seq): one row per DOC (including
  *     token-less docs, which have no `tfs` rows but still count in
  *     N/avgdl) — the BM25 doc-length sidecar the n/avgdl fold reads
  *     without touching the postings table;
  *   - `stats`   (term, df) and `meta` (n, avgdl, tdl, stats_seq): the
  *     corpus statistics as of the STATS FENCE (the log seq through
  *     which arrivals/deletes are folded into them — the manifest's
  *     `stats_fence`, published with them, and embedded in meta as
  *     `stats_seq`).
  *     `tdl` (total doc length, a long) makes the avgdl fold exact:
  *     avgdl = tdl/n in both build and refit, bit-equal to the inline
  *     pipelines' double-sum avg() for any corpus whose token total
  *     fits 2^53 (and MORE exact past it);
  *   - LSM logs (the [[graft.ann.LsmStore]] protocol, kill rule and
  *     cadence): `tfs_delta`, `doclens_delta`, `tombstones`.
  *
  * Serving ([[sparse]]/[[bm25]]) computes w/tscore at probe time:
  * live rows ⨝ broadcast(stats) with the canonical expressions below —
  * map-side codegen over exactly the rows the query's terms probe, so
  * the serve cost is unchanged from the precomputed-score layout while
  * the stored rows become stats-independent. That independence is the
  * point: an arrival whose terms were unseen at fit time stores its
  * raw rows anyway (they simply don't score until a refit gives the
  * terms a df — under-scoring, never over-scoring), and a stats refit
  * retroactively re-scores EVERYTHING without rewriting a posting.
  *
  * FROZEN-df staleness (the lexical analog of embedding drift): between
  * refits, serving uses the fence-time N, df, avgdl. [[onBatch]]
  * measures each arrival batch's out-of-vocabulary posting ratio
  * ([[lastOovRatio]]) and warns past `oovWatermark` — and the remedy is
  * now [[mergeRefit]], which folds the DRIFT (arrivals since the stats
  * fence; deletes of fenced docs) into stats/meta in O(drift), not a
  * full corpus rebuild: df increments come from the delta rows
  * themselves, decrements from the dead docs' stored rows (probed by
  * doc_id, bounded output), n/avgdl from the doc-length sidecar.
  * Post-refit serving is row-identical to a full
  * [[PostingsStore.build]] over the drifted corpus (spec-pinned).
  *
  * [[compactNow]] folds the logs into a new base generation, running
  * [[mergeRefit]] FIRST — the row fold physically applies tombstones
  * and starts a fresh log generation, and the old logs are exactly the
  * inputs the stats fold needs — so a compacted
  * store's stats always describe its live corpus (post-compaction
  * serving == a fresh build's, the strongest identity on offer).
  * Serving scores therefore change only at refit/compaction
  * boundaries, never mid-window.
  */
final class PostingsStore(
    spark: SparkSession,
    path: String,
    compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
    k1: Double = PostingsStore.K1,
    b: Double = PostingsStore.B,
    oovWatermark: Double = 0.0) extends graft.ann.LsmStore {

  require(compactEvery > 0, s"compactEvery $compactEvery must be positive")

  private val logr = org.slf4j.LoggerFactory.getLogger(getClass)

  override protected def lsmSpark: SparkSession = spark
  override protected def lsmPath: String = path
  override protected def lsmLogDirs: Seq[String] =
    Seq("tfs_delta", "doclens_delta", "tombstones")

  // a v1 store (precomputed sparse/bm25 tables, no raw rows) cannot be
  // upgraded in place — its tf/dl inputs were never persisted
  require(!(lsmFs.exists(new Path(s"$path/sparse")) &&
      !lsmFs.exists(new Path(s"$path/tfs"))),
    s"postings store at '$path' uses the pre-raw-postings layout " +
      "(precomputed sparse/bm25, raw tf rows never persisted) — " +
      "rebuild it with PostingsStore.build")

  // the stats fence joins the recovery max (the GraphMaintainer scope-
  // fence rule): a seq burned by a failed batch can reach the fence via
  // mergeRefit with NO log row carrying it — recovery from the logs
  // alone would reuse it, and the reused batch's rows would sit
  // at-or-below the fence, permanently excluded from every stats fold
  private var batches = { val s = recoverSeq(); math.max(s, statsFence(manifest())) }

  /** OOV posting ratio of the most recent batch's ARRIVALS (None until
    * a batch with arrivals has run) — the fraction of the batch's
    * (doc, term) rows whose term the fence-time vocabulary lacks. */
  @volatile var lastOovRatio: Option[Double] = None

  def batchesSeen: Int = batches
  /** True when the NEXT [[onBatch]] call triggers compaction
    * ([[graft.ann.LsmStore.compactionDueAt]]). */
  def compactionDue: Boolean = compactionDueAt(batches + 1, compactEvery)

  private def withDelta(m: Manifest, baseSub: String): DataFrame =
    withVisibleDelta(m, readBase(m, baseSub), s"${baseSub}_delta")

  /** The shared live view ([[graft.ann.LsmStore.liveViews]]) over a
    * base table whose rows keep their `seq` through compaction. A
    * caller that reads several views passes one snapshot `m` to all. */
  private def live(baseSub: String, m: Manifest = manifest()): DataFrame =
    liveViews(m, "doc_id", keepSeq = true)(
      readBase(m, baseSub) -> s"${baseSub}_delta").head

  /** Live raw postings (doc_id, term, tf, dl, seq). */
  private[retrieval] def liveTfs: DataFrame = live("tfs")
  /** Live doc-length sidecar (doc_id, dl, seq) — one row per live doc. */
  private[retrieval] def liveDoclens: DataFrame = live("doclens")

  /** The live DOCUMENT set (doc_id, dl) — membership, not scoring: a
    * freshly-appended doc whose terms are all OOV since the stats
    * fence is LIVE here even though [[sparse]]/[[bm25]] won't score it
    * until a refit (the under-score-never-over-score rule). The view
    * composed pipelines and specs check store membership against. */
  def liveDocs: DataFrame = liveDoclens.select(col("doc_id"), col("dl"))

  private def stats(m: Manifest): DataFrame = readBase(m, "stats")
  private def meta(m: Manifest): (Long, Double, Long) = {
    val r = spark.read.parquet(m.base("meta")).head()
    (r.getAs[Long]("n"), r.getAs[Double]("avgdl"), r.getAs[Long]("tdl"))
  }

  /** The serving views — probe them by term exactly like the inline
    * pipelines' frames (RetrievalSpec pins row-identity): scores derive
    * map-side from the probed raw rows × the broadcast fence-time
    * stats, all from one manifest. Terms absent from stats (OOV since
    * the fence) don't score until a refit — the
    * under-score-never-over-score rule. */
  def sparse: DataFrame = {
    val m = manifest()
    val (n, _, _) = meta(m)
    live("tfs", m).join(broadcast(stats(m)), "term")
      .select(col("doc_id"), col("term"),
        PostingsStore.sparseWCol(n.toDouble).as("w"))
  }
  def bm25: DataFrame = {
    val m = manifest()
    val (n, avgdl, _) = meta(m)
    live("tfs", m).join(broadcast(stats(m)), "term")
      .select(col("doc_id"), col("term"),
        PostingsStore.tscoreCol(n.toDouble, k1, b, lit(avgdl)).as("tscore"))
  }

  /** One maintenance step. `arrivals` rows are (doc_id, toks
    * ARRAY<STRING>); `deletes` rows are (doc_id). An id in both is an
    * upsert. Arrivals store RAW rows (stats-independent — class doc). */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit = {
    val seq = batches + 1
    // the seq is BURNED up front: a failed attempt's partial log rows
    // stay at a seq no retry reuses (LsmStore doc)
    batches = seq
    val m = manifestFor(seq)
    arrivals.foreach { a =>
      val tf = a.select(col("doc_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        .persist()
      try {
        // staleness watermark: OOV fraction of this batch's postings vs
        // the fence-time vocabulary
        val agg = tf.agg(count(lit(1)).as("total")).crossJoin(
          tf.join(broadcast(stats(m)), "term")
            .agg(count(lit(1)).as("known"))).head()
        val total = agg.getAs[Long]("total")
        val oov = if (total == 0) 0.0
          else 1.0 - agg.getAs[Long]("known").toDouble / total
        lastOovRatio = Some(oov)
        if (oovWatermark > 0 && oov > oovWatermark) logr.warn(
          f"stored postings '$path' batch $seq arrivals are $oov%.2f OOV " +
            f"vs the fence-time vocabulary (watermark $oovWatermark): the " +
            "frozen df stats no longer describe the corpus — unseen terms " +
            "score NOTHING until a refit and df for known terms is stale. " +
            "Run mergeRefit(): it folds the drift into the stats in " +
            "O(drift) and the stored raw rows re-score retroactively.")
        logRows(tf, readBase(m, "tfs").schema, seq)
          .write.mode("append").parquet(m.log("tfs_delta"))
        logRows(a.select(col("doc_id"), size(col("toks")).as("dl")),
            readBase(m, "doclens").schema, seq)
          .write.mode("append").parquet(m.log("doclens_delta"))
      // finally: the burn-and-retry contract makes the failure path an
      // expected flow — a leaked cached RDD per failed attempt would
      // accumulate across retries
      } finally tf.unpersist(false)
    }
    deletes.foreach(d => logRows(d, Seq(readBase(m, "doclens").schema("doc_id")),
        seq).write.mode("append").parquet(m.log("tombstones")))
    // atomic visibility: a crash above leaves a partial batch (tfs
    // written, doclens not — or a delete without its upsert arrival)
    // that no manifest names instead of serving diverged views
    commit(m)(_.committed(seq))
    if (compactionDueAt(batches, compactEvery)) compactNow()
  }

  // ---- O(drift) stats refit ----

  /** Log seq through which arrivals/deletes are folded into the stats
    * of snapshot `m` (0 = fit-time only): max(the manifest's
    * `stats_fence`, the `stats_seq` column embedded in meta). A refit
    * publishes both; a no-drift advance moves only the manifest's,
    * whose skipped window folds nothing. The embedded copy covers a
    * store converted from the marker format whose `_stats_fence` marker
    * was lost. For a pre-stats_seq store in that state, the
    * [[mergeRefit]] fence-0 cross-check (meta.n vs the persisted seq≤0
    * doc count) still refuses the doc-count-changing cases loudly;
    * count-neutral drift (same-length upserts) on such a store is the
    * residual documented gap — rebuild closes it. */
  private def statsFence(m: Manifest): Int = {
    val embedded =
      try {
        val df = spark.read.parquet(m.base("meta"))
        if (df.schema.fieldNames.contains("stats_seq"))
          df.head().getAs[Int]("stats_seq")
        else 0
      } catch { case _: Exception => 0 }
    math.max(m.int("stats_fence"), embedded)
  }

  /** Fold the drift since the stats fence into stats/meta — O(drift),
    * never a corpus pass: df increments from the delta rows themselves
    * (arrivals carry their own (doc, term) rows), df decrements from
    * the dead fenced docs' stored rows (a bounded-output probe of the
    * postings by tombstoned doc_id), n/tdl/avgdl from the doc-length
    * sidecar. Post-refit serving is row-identical to a full
    * [[PostingsStore.build]] over the drifted corpus
    * (PostingsStoreSpec pins it), and previously-OOV stored rows begin
    * scoring retroactively. Crash-safe: new stats/meta land in a new
    * generation and one manifest publishes them with the new stats
    * fence; a crash before the publish leaves the old stats serving.
    * No-op (returns false) when nothing drifted. */
  def mergeRefit(): Boolean = {
    // one snapshot for every read of the fold
    val m = manifest()
    val sf = statsFence(m)
    // fence-0 cross-check (see [[statsFence]]): stats claiming
    // "fit-time only" must agree with the persisted fit-time doc count
    // (build stamps base rows seq 0 and meta.n from them; every later
    // row carries seq ≥ 1). One doc-count-sized scan, paid at most on
    // a store's first refit. With the fence now embedded in meta this
    // guard only fires for PRE-stats_seq stores with a lost marker (or
    // a hand-damaged meta), where it refuses the doc-count-changing
    // double-fold cases loudly.
    if (sf == 0) {
      val fitDocs = withDelta(m, "doclens").where(col("seq") <= 0).count()
      val (n0, _, _) = meta(m)
      require(fitDocs == n0,
        s"postings store '$path': stats fence reads 0 (fit-time only) " +
          s"but meta.n=$n0 differs from the seq<=0 doc count $fitDocs — " +
          "the stats fence (manifest `stats_fence`, formerly the " +
          "`_stats_fence` marker) was likely lost or corrupted after " +
          "a refit/compaction; folding from 0 would double-count " +
          "already-folded rows. Rebuild (PostingsStore.build).")
    }
    val newFence = batches
    val tombs = visibleTombstones(m, readBase(m, "doclens"), "doc_id")
      .persist()
    try {
      val newT = broadcast(tombs.where(col("seq") > sf))
      val oldT = broadcast(tombs.where(col("seq") <= sf))
      // fenced rows that died SINCE the fence: counted in stats, must
      // decrement. Rows already dead AT the fence were decremented by
      // the refit that advanced it (or physically dropped by
      // compaction) — the old-tombstone anti-join keeps them out.
      def deadOld(all: DataFrame): DataFrame = killJoin(
        killJoin(all.where(col("seq") <= sf), oldT, "doc_id", "left_anti"),
        newT, "doc_id", "left_semi")
      val deadTf = deadOld(withDelta(m, "tfs"))
      val deadDl = deadOld(withDelta(m, "doclens"))
      // live rows the stats don't cover yet (arrivals since the fence;
      // an upserted doc's surviving version)
      val freshTf = live("tfs", m).where(col("seq") > sf)
      val freshDl = live("doclens", m).where(col("seq") > sf)

      val dlMoves = freshDl.select(lit(1L).as("dn"), col("dl").cast("long"))
        .withColumn("sgn", lit(1L))
        .unionByName(deadDl.select(lit(1L).as("dn"),
          col("dl").cast("long")).withColumn("sgn", lit(-1L)))
        .agg(coalesce(sum(col("sgn") * col("dn")), lit(0L)).as("dN"),
          coalesce(sum(col("sgn") * col("dl")), lit(0L)).as("dTdl"))
        .head()
      val dN = dlMoves.getLong(0)
      val dTdl = dlMoves.getLong(1)
      val dfMoves = freshTf.select(col("term"), lit(1L).as("d"))
        .unionByName(deadTf.select(col("term"), lit(-1L).as("d")))
        .groupBy("term").agg(sum("d").as("ddf"))
        .where(col("ddf") =!= 0L)
        .persist()
      // try/finally like onBatch's tf: the negative-fold require below
      // is an EXPECTED error path (corrupt fence), and repeated retries
      // against it must not accumulate cached RDDs
      try {
      val nMoved = dfMoves.count()
      if (dN == 0L && dTdl == 0L && nMoved == 0L) {
        // nothing drifted — still advance the fence so later folds
        // don't rescan this window
        if (newFence > sf) commit(m)(_.withInt("stats_fence", newFence))
        return false
      }
      val (n, _, tdl) = meta(m)
      val n2 = n + dN
      val tdl2 = tdl + dTdl
      require(n2 >= 0 && tdl2 >= 0,
        s"postings store '$path': refit fold went negative (n=$n2, " +
          s"tdl=$tdl2) — stats fence and logs disagree; rebuild " +
          "(PostingsStore.build)")
      val merged = stats(m)
        .join(dfMoves, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
            .as("df"))
        .where(col("df") > 0L)
      val g = newGeneration()
      merged.localCheckpoint()
        .write.mode("overwrite").parquet(s"$path/${genDir(g)}/stats")
      import spark.implicits._
      // the fence also travels INSIDE meta (stats_seq) — see
      // [[statsFence]]
      Seq((n2, if (n2 == 0L) 0.0 else tdl2.toDouble / n2, tdl2,
          newFence))
        .toDF("n", "avgdl", "tdl", "stats_seq")
        .write.mode("overwrite").parquet(s"$path/${genDir(g)}/meta")
      commit(m, g)(_.withBases(genDir(g), Seq("stats", "meta"))
        .withInt("stats_fence", newFence))
      if (logr.isInfoEnabled) logr.info(
        s"stored postings '$path' stats refit: folded drift through " +
          s"seq $newFence ($nMoved terms, $dN docs)")
      true
      } finally dfMoves.unpersist(false)
    } finally tombs.unpersist(false)
  }

  /** Fold the logs into a new generation of the base tables — stats
    * first ([[mergeRefit]]; the row fold physically applies the
    * tombstones and starts a fresh log generation, and the old logs are
    * what the stats fold reads), so a compacted store's stats always
    * describe its live corpus. */
  def compactNow(): Unit = {
    mergeRefit()
    val m = manifest()
    val g = newGeneration()
    live("tfs", m).localCheckpoint().write.mode("overwrite")
      .parquet(s"$path/${genDir(g)}/tfs")
    live("doclens", m).localCheckpoint().write.mode("overwrite")
      .parquet(s"$path/${genDir(g)}/doclens")
    commitFold(m, g, Seq("tfs", "doclens"), batches)
    if (logr.isInfoEnabled) logr.info(
      s"stored postings '$path' compacted after $batches batches")
  }
}

object PostingsStore {
  /** BM25 term-saturation / length-normalization constants (the
    * canonical defaults; RetrievalQueries aliases these). */
  val K1 = 1.2
  val B = 0.75

  // Canonical scoring EXPRESSIONS — the one spelling every consumer
  // shares (RetrievalQueries' inline termScores/sparseWeights and the
  // store's serving views). Bit-identity across them is the store's
  // contract, and these formulas must not exist in hand-synchronized
  // copies: a one-sided tweak (k1/b handling, the log(1+x)-vs-log1p
  // ulp, rounding) would silently break row-identity for exactly one
  // path. Inputs are columns named df/tf/dl.

  /** Lucene-standard BM25 idf: ln(1 + (N − df + 0.5)/(df + 0.5)). */
  private[graft] def idfCol(n: Double): org.apache.spark.sql.Column =
    log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** BM25 per-(doc, term) partial score; `avgdl` as a Column so callers
    * pass either the aggregated col("avgdl") or a frozen lit. */
  private[graft] def tscoreCol(n: Double, k1: Double, b: Double,
                               avgdl: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    idfCol(n) * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))

  /** Sparse posting weight: round(tf · ln(N/df), 6). */
  private[graft] def sparseWCol(n: Double): org.apache.spark.sql.Column =
    round(col("tf") * log(lit(n) / col("df")), 6)

  /** Compute the raw postings + doc-length sidecar + stats over `docs`
    * ((doc_id, toks)) and persist them at `path`; returns a store
    * serving them. The serving views mirror RetrievalQueries.termScores
    * / sparseWeights term-for-term so they are row-identical to the
    * inline pipelines' frames (pinned in RetrievalSpec/
    * PostingsStoreSpec) — a serving swap must change plans, not
    * numbers. avgdl is computed as tdl/n (exact long total) — equal to
    * the inline avg()'s double-sum for any corpus under 2^53 total
    * tokens, and exact past it. */
  /** Open a NEW store at `toPath` whose base tables are a FILE-level
    * copy of the store at `fromPath` (the four base subdirs —
    * tfs/doclens/stats/meta, wherever the source's manifest names them;
    * LSM logs are NOT copied, the clone starts
    * with a clean history). The sharing primitive for derived stores:
    * a drifted/refit twin over the same corpus skips the
    * tokenize + tf/df aggregation build entirely (two corpus shuffles
    * for a pure copy — measured ~2× cheaper at sf0.1, SCALE-neutral
    * since both are one pass over the base tables' bytes) and is
    * bit-identical to a fresh build by construction. The source store
    * must be un-batched (its base tables ARE its state); a batched
    * source would silently lose its delta/tombstone logs. */
  def cloneBase(spark: SparkSession, fromPath: String, toPath: String,
                compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
                k1: Double = K1, b: Double = B,
                oovWatermark: Double = 0.0): PostingsStore = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(fromPath)
    val to = new Path(toPath)
    val fs = from.getFileSystem(conf)
    fs.delete(to, true)
    fs.mkdirs(to)
    val at = graft.ann.LsmStore.baseDir(spark, fromPath)
    Seq("tfs", "doclens", "stats", "meta").foreach { sub =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(at(sub)),
        fs, new Path(to, sub), false, conf)
    }
    new PostingsStore(spark, toPath, compactEvery, k1, b, oovWatermark)
  }

  def build(spark: SparkSession, path: String, docs: DataFrame,
            compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
            k1: Double = K1, b: Double = B,
            oovWatermark: Double = 0.0): PostingsStore = {
    val d = docs.select(col("doc_id"), col("toks"))
    d.select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        lit(0).as("seq"))
      .write.mode("overwrite").parquet(s"$path/tfs")
    d.select(col("doc_id"), size(col("toks")).as("dl"), lit(0).as("seq"))
      .write.mode("overwrite").parquet(s"$path/doclens")
    val stored = spark.read.parquet(s"$path/tfs")
    stored.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/stats")
    val m = spark.read.parquet(s"$path/doclens")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("tdl"))
      .head()
    val n = m.getLong(0)
    val tdl = m.getLong(1)
    import spark.implicits._
    Seq((n, if (n == 0L) 0.0 else tdl.toDouble / n, tdl, 0))
      .toDF("n", "avgdl", "tdl", "stats_seq")
      .write.mode("overwrite").parquet(s"$path/meta")
    new PostingsStore(spark, path, compactEvery, k1, b, oovWatermark)
  }
}
