package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A STORED near-duplicate gate — the dedup stage of a streaming
  * ingestion pipeline, as a maintained LSM store like the other three
  * ([[graft.retrieval.PostingsStore]], [[graft.ann.CodesMaintainer]],
  * [[graft.ann.GraphMaintainer]]): the corpus's MinHash band index
  * ([[Dedup.bandRows]] — (doc_id, sh, band, bkey), the shingle array
  * riding each row for exact verification) persists at `$path/bands`;
  * each arrivals micro-batch is gated against the serving view and the
  * ADMITTED docs' band rows append seq-stamped, so batch 2 dedups
  * against batch 1's admissions without ever re-banding the corpus.
  *
  * Admission rule (the retention policy the batch queries pin —
  * `q_near_dup_clusters`' min-id-per-component, applied incrementally):
  * verified near-dup pairs involving the batch
  * ([[Dedup.minhashNearDupIncremental]]: arrivals×stored banded
  * candidates + the within-batch self-join, every candidate
  * exact-Jaccard-verified) feed connected components; an arrival in a
  * component ANCHORED by a stored doc is rejected (the stored doc is
  * already canonical — admission cannot retroactively evict it), an
  * unanchored component keeps exactly its min-id arrival. Arrivals
  * with no pair (including docs too short to shingle) admit. An
  * arrival reusing a STORED id is an upsert: same-id pairs never form
  * (the incremental join excludes them), so re-arrivals — including a
  * crashed batch's replay — re-admit instead of self-colliding.
  *
  * LSM legs (the [[graft.ann.LsmStore]] protocol, kill rule and
  * cadence): admitted band rows land seq-stamped in `bands_delta`;
  * deletes append to the `tombstones` log (a deleted doc stops
  * blocking future arrivals); one manifest publish makes each batch
  * atomic; every `compactEvery` batches the serving view folds into a
  * new generation of the `bands` table.
  *
  * Scale shape: gating cost is per-BATCH — arrivals band map-side and
  * broadcast into the stored band table (never shuffling it), the
  * pair set is banding-bounded, and components span only docs touched
  * by the batch's pairs (O(merged-component diameter) rounds). The
  * corpus is re-read only by compaction.
  */
final class DedupGate(
    spark: SparkSession,
    path: String,
    cfg: Dedup.MinHashConfig,
    idCol: String = "doc_id",
    textCol: String = "text",
    compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
    hot: Option[DataFrame] = None) extends graft.ann.LsmStore {

  require(compactEvery > 0, s"compactEvery $compactEvery must be positive")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  override protected def lsmSpark: SparkSession = spark
  override protected def lsmPath: String = path
  override protected def lsmLogDirs: Seq[String] =
    Seq("bands_delta", "tombstones")

  private def base(m: graft.ann.LsmStore.Manifest): DataFrame =
    readBase(m, "bands")

  /** The frozen hot-shingle row the gate bands arrivals with. When
    * capping is on (`cfg.maxDocFreqRatio < 1`) and no `hot` frame was
    * supplied, it is LOADED from the `$path/hot` artifact [[DedupGate
    * .build]] persisted at fit time — the crash-recovery path: a gate
    * reopened after a driver restart must band arrivals with exactly
    * the geometry the stored index was built with, or cross Jaccard
    * depresses and near-dups of stored docs silently admit (the
    * [[DedupGate.build]] scaladoc's failure mode). A capped gate whose
    * path predates the artifact fails loudly here rather than banding
    * wrong. */
  private val frozenHot: Option[DataFrame] = hot.orElse {
    if (cfg.maxDocFreqRatio >= 1.0) None
    else {
      val p = s"$path/hot"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new org.apache.hadoop.fs.Path(path).toUri,
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(p)))
        throw new IllegalStateException(
          s"dedup gate '$path' was configured with maxDocFreqRatio=" +
            s"${cfg.maxDocFreqRatio} (< 1) but has no persisted hot-" +
            s"shingle artifact at $p and none was supplied: " +
            "arrivals would band with different geometry than the " +
            "stored index and silently admit near-dups. Rebuild via " +
            "DedupGate.build (which persists the artifact) or pass " +
            "the identical fit-time hot row.")
      Some(spark.read.parquet(p))
    }
  }

  private var batches = recoverSeq()

  /** Batches applied over the store's lifetime (persistent — recovered
    * from the logs and the compaction fence). */
  def batchesSeen: Int = batches

  /** The serving band index: the shared live view
    * ([[graft.ann.LsmStore.liveViews]]) keyed on doc_id. */
  def servingBands: DataFrame = servingBands(manifest())

  private def servingBands(m: graft.ann.LsmStore.Manifest): DataFrame =
    liveViews(m, "doc_id")(base(m) -> "bands_delta").head

  /** One gated maintenance step. `arrivals` rows carry (`idCol`,
    * `textCol`, …) — extra columns ride through to `admitted`
    * untouched; `deletes` rows are (`idCol`). A doc deleted and
    * re-arriving in one batch is an upsert: the gate evaluates the
    * batch against the serving view MINUS this batch's deletes, so the
    * old version cannot block its own replacement. Returns the
    * admitted arrivals (the caller feeds them to the downstream
    * stores) and the rejected (doc_id, cluster_id) assignment —
    * cluster_id is the component's MIN doc id (the retention rule's
    * canonical label; for an anchored component whose min happens to
    * be the rejected arrival itself, the stored anchor rejects it
    * regardless and the label stays the component min). */
  def onBatch(arrivals: DataFrame,
              deletes: Option[DataFrame] = None): DedupGate.Result = {
    val seq = batches + 1
    // the seq is BURNED up front (LsmStore doc): a failed attempt's
    // partial log rows stay at a seq no retry reuses
    batches = seq
    val m = manifestFor(seq)
    val serving = deletes.fold(servingBands(m))(d =>
      servingBands(m).join(
        broadcast(d.select(col(idCol).as("doc_id"))),
        Seq("doc_id"), "left_anti"))
    // the banding pass is shared: the same persisted arrival band rows
    // feed the candidate pairs here AND the admitted delta append below
    // (re-shingling the batch was the gate's one redundant map pass)
    val (pairs0, aBands) = Dedup.incrementalPairsWithBands(serving,
      arrivals, idCol, textCol, cfg, frozenHot)
    // try/finally from here through the delta append: a failed attempt
    // is an EXPECTED flow (burn-and-retry), and without the guard each
    // one leaks a cached band frame (the PostingsStore.onBatch rule)
    val rejected = try {
      val pairs = pairs0.localCheckpoint()
      val aIds = arrivals.select(col(idCol).as("doc_id"))
      val cc = Dedup.connectedComponents(pairs)
      // a component holding ANY stored doc is anchored: its canonical row
      // already serves, so every arrival member is a duplicate of it
      val anchored = cc.join(aIds, Seq("doc_id"), "left_anti")
        .select("cluster_id").distinct()
      val arrivalCc = cc.join(aIds, Seq("doc_id"), "left_semi")
      // rejected BEFORE the delta append and materialized: its lineage
      // reads the serving view this batch is about to extend
      val rej = arrivalCc
        .join(anchored, Seq("cluster_id"), "left_semi")
        .unionByName(arrivalCc.where(col("doc_id") =!= col("cluster_id")))
        .select(col("doc_id"), col("cluster_id"))
        .dropDuplicates("doc_id")
        .localCheckpoint()
      deletes.foreach(d => logRows(d.select(col(idCol).as("doc_id")),
          Seq(base(m).schema("doc_id")), seq)
        .write.mode("append").parquet(m.log("tombstones")))
      // admitted docs' band rows = the gating pass's own rows, filtered —
      // no second shingling/banding of the batch
      logRows(aBands.join(broadcast(rej.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"), base(m).schema, seq)
        .write.mode("append").parquet(m.log("bands_delta"))
      rej
    } finally aBands.unpersist(false)
    val admitted = arrivals.join(
      broadcast(rejected.select(col("doc_id").as(idCol))),
      Seq(idCol), "left_anti")
    // the batch becomes visible ATOMICALLY here (LsmStore doc): a crash
    // above leaves a partial batch no manifest names
    commit(m)(_.committed(seq))
    if (compactionDueAt(batches, compactEvery)) compactNow()
    DedupGate.Result(admitted, rejected)
  }

  /** Fold the logs into a new generation of the `bands` table
    * ([[graft.ann.LsmStore.commitFold]]). */
  def compactNow(): Unit = {
    val m = manifest()
    // dropDuplicates: a replayed batch (at-least-once delivery)
    // re-appends its admitted band rows at a fresh seq — identical
    // (doc_id, band, bkey) triples that pair generation already
    // dedups; the fold is where they physically collapse
    val live = servingBands(m).dropDuplicates("doc_id", "band", "bkey")
      .localCheckpoint()
    val g = newGeneration()
    live.write.mode("overwrite").parquet(s"$path/${genDir(g)}/bands")
    commitFold(m, g, Seq("bands"), batches)
    if (log.isInfoEnabled) log.info(
      s"dedup gate '$path' compacted after $batches batches")
  }
}

object DedupGate {
  /** One gated batch's outcome: `admitted` — the arrivals that passed
    * (full caller schema, feed downstream); `rejected` — (doc_id,
    * cluster_id), each rejected doc with the canonical doc of its
    * near-dup component. */
  final case class Result(admitted: DataFrame, rejected: DataFrame)

  /** Build the stored gate over an existing corpus: band the docs once
    * ([[Dedup.bandIndex]]) into `$path/bands` and open the store. The
    * corpus itself is assumed already deduplicated (run the batch
    * near-dup + retention queries first); the gate keeps it that way
    * under streaming arrivals.
    *
    * Hot-shingle capping is FROZEN AT FIT TIME, like every other
    * frozen-model append: when `cfg.maxDocFreqRatio < 1` and no `hot`
    * row is supplied, the corpus-derived hot list is computed ONCE
    * here and handed to the gate, so arrivals band and verify against
    * exactly the geometry the stored index was built with — a base
    * capped one way and arrivals another would depress cross Jaccard
    * and silently admit near-dups of stored docs. */
  def build(spark: SparkSession, path: String, docs: DataFrame,
            idCol: String = "doc_id", textCol: String = "text",
            cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(),
            compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
            hot: Option[DataFrame] = None): DedupGate = {
    val frozenHot = hot.orElse(
      if (cfg.maxDocFreqRatio >= 1.0) None
      else Some(Dedup.hotShingleRow(docs, idCol, textCol, cfg)
        .localCheckpoint()))
    // persist the frozen row under $path/hot (the Sq.save model-artifact
    // pattern): a gate reopened after a driver restart recovers the
    // identical banding geometry instead of silently constructing
    // uncapped (the class's frozenHot loader reads it back)
    frozenHot.foreach(
      _.write.mode("overwrite").parquet(s"$path/hot"))
    Dedup.bandIndex(docs, idCol, textCol, cfg, frozenHot)
      .write.mode("overwrite").parquet(s"$path/bands")
    new DedupGate(spark, path, cfg, idCol, textCol, compactEvery,
      frozenHot)
  }

  /** One-shot migration for capped stores persisted BEFORE the hot
    * artifact existed (round 16 made them fail loudly at
    * construction): derive the hot-shingle row from `docs` — the
    * FIT-TIME corpus, or the closest snapshot available — persist it
    * at `$path/hot`, and return the reopened gate. Explicit opt-in,
    * never automatic, because the recomputation is exact ONLY when
    * `docs` matches the fit-time corpus: the hot set is a
    * document-frequency threshold cut, so a drifted snapshot can flip
    * borderline shingles and band arrivals with slightly different
    * geometry than the stored index (the silent-admit risk the
    * fail-loud constructor exists to prevent). The stored bands
    * themselves are hashed and cannot be inverted to recover the set,
    * which is why this takes a corpus and not nothing. Identity with
    * a fresh build is pinned in DedupGateSpec for the matching-corpus
    * case; for a drifted snapshot prefer a full [[build]] rebuild. */
  def adoptHot(spark: SparkSession, path: String, docs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(),
               compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery)
      : DedupGate = {
    require(cfg.maxDocFreqRatio < 1.0,
      "adoptHot migrates capped gates only — an uncapped gate has no " +
        "hot artifact to adopt")
    val hot = Dedup.hotShingleRow(docs, idCol, textCol, cfg)
      .localCheckpoint()
    hot.write.mode("overwrite").parquet(s"$path/hot")
    new DedupGate(spark, path, cfg, idCol, textCol, compactEvery,
      Some(hot))
  }
}
