package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scheduled maintenance for a STORED compressed-codes index (SQ, BQ,
  * PQ, IVF-SQ, IVF-PQ) under streaming upserts/deletes — the
  * codes-table generalization of [[graft.ann.lsh.LshMaintainer]]. The
  * LSM protocol, kill rule, batch step and cadence live in
  * [[LsmStore]] and [[VectorLsmStore]]. Every compressed family
  * persists one codes table at `$path/codes` plus small frozen-model
  * dirs; the family differences are captured by two constructor
  * closures:
  *
  *   - `encode`: the FROZEN-model transform taking (vec_id, embedding)
  *     arrivals to code rows — each family's `model.transform` /
  *     `encodeCol` projection, map-side by construction (the same
  *     frozen-model append contract as `SqIndex.append` etc.);
  *   - `partitionCols`: the at-rest layout (e.g. `Seq("cell")` for
  *     IVF-SQ/IVF-PQ, whose probe pruning is partition pruning) —
  *     applied to the delta log too, so probes prune delta files the
  *     same way they prune the base, and rows are repartitioned on the
  *     layout before every partitioned write so each partition dir
  *     stays one file per write, not one per upstream task.
  *
  * Arrivals land seq-stamped in `codes_delta`; [[liveCodes]] is the
  * serving view — feed it to the family's index constructor
  * (`new SqIndex(model, m.liveCodes)`); [[compactNow]] folds it into a
  * new generation of the codes table. The occupancy watermark counts the codes table: for
  * the frozen models the inflation is per-family drift (SQ bounds
  * saturate, PQ codebooks go stale, IVF cells crowd), so the warning's
  * action is refit/retrain ([[refitAndSwap]]), not compact harder;
  * compaction keeps the fit reference.
  */
final class CodesMaintainer(
    spark: SparkSession,
    path: String,
    encode: DataFrame => DataFrame,
    protected val compactEvery: Int = LsmStore.DefaultCompactEvery,
    partitionCols: Seq[String] = Nil,
    protected val occupancyWatermark: Double = 0.0,
    protected val driftCheck: Option[DriftCheck] = None,
    protected val refitAfterBreaches: Int = 3) extends VectorLsmStore {

  // the frozen-model transform future batches encode through —
  // replaced atomically by [[refitAndSwap]]
  private var encodeFn: DataFrame => DataFrame = encode

  override protected def lsmSpark: SparkSession = spark
  override protected def lsmPath: String = path
  override protected def lsmLogDirs: Seq[String] =
    Seq("codes_delta", "tombstones")
  override protected def countedTable: String = "codes"
  override protected def storeLabel: String = "stored codes table"
  override protected def driftAdvice: String =
    "The frozen model is quantizing against stale geometry (SQ bounds " +
      "saturate, PQ codebooks misassign, IVF cells crowd) — refit " +
      "(refitAndSwap); compaction never re-fits."
  override protected def occupancyAdvice: String =
    "the model's drift envelope (SQ bound saturation / PQ codebook " +
      "staleness / IVF cell crowding — see each family's append " +
      "scaladoc) has likely been outgrown. Refit/retrain; compaction " +
      "drops tombstoned rows but never re-fits the model."

  /** Write `df` to the dir `p`, repartitioned on the family layout so
    * a partitioned write emits one file per partition dir per write
    * (the `IvfSq.save` clustering), not one per upstream task. */
  private def writeCodes(df: DataFrame, p: String, mode: String): Unit = {
    val clustered =
      if (partitionCols.isEmpty) df
      else df.repartition(partitionCols.map(col): _*)
    val w = clustered.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(p)
  }

  /** The serving view ([[LsmStore.liveViews]] over the codes table).
    * Pass to the family's index constructor. */
  def liveCodes: DataFrame = liveCodes(manifest())

  private def liveCodes(m: LsmStore.Manifest): DataFrame =
    liveViews(m)(readBase(m, "codes") -> "codes_delta").head

  /** One maintenance step. `arrivals` rows are (vec_id, embedding);
    * `deletes` rows are (vec_id). An id in both is an upsert. Codes
    * are logged in the base table's schema. */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit =
    runBatch(deletes) { (m, seq) =>
      arrivals.foreach { a =>
        writeCodes(logRows(encodeFn(a), readBase(m, "codes").schema, seq),
          m.log("codes_delta"), "append")
      }
      arrivals
    }

  /** Fold the logs into a new base codes table (family layout preserved
    * via `partitionCols`) written as a new generation and published by
    * [[graft.ann.LsmStore.commitFold]] — a crash before the publish
    * leaves an orphan generation no manifest names, and the old base +
    * logs serve on. */
  def compactNow(): Unit = {
    val m = manifest()
    val live = liveCodes(m).localCheckpoint()
    val n = newGeneration()
    writeCodes(live, s"$path/${genDir(n)}/codes", "overwrite")
    commitFold(m, n, Seq("codes"), batches)
    val folded = live.count()
    onCompacted(folded)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' compacted after $batches batches " +
        s"($folded live rows)")
  }

  /** The drift warning's prescribed action, as code — the
    * [[graft.ann.lsh.LshMaintainer.refitNow]] of the codes stores:
    * RETRAIN on the live corpus and publish model + codes as one
    * generation. The maintainer is family-generic (it holds only an
    * encode closure), so the caller owns the family fit and hands back:
    *
    *   - `newEncode` — the freshly-trained frozen model's transform
    *     ((vec_id, embedding) → code rows, the constructor `encode`
    *     contract), used for the re-encode here and every later batch;
    *   - `writeModel` — persists the new model dirs UNDER THE GIVEN
    *     ROOT using the same subdir names the live model occupies
    *     (each family's `model.save` pointed at that root);
    *   - `modelSubs` — those subdir names, so the commit publishes
    *     them with the codes in ONE manifest.
    *
    * `vectors` must cover the live ids (rows of deleted ids are
    * dropped by the serve-view semi-join; the id set served afterwards
    * is exactly the id set served before). Everything lands in a new
    * generation first, then [[graft.ann.LsmStore.commitFold]]
    * publishes it — a crash before the publish leaves the old model +
    * codes + logs serving. Afterwards the occupancy fit reference
    * resets ([[graft.ann.LsmStore.onRefit]]) and the drift-breach run
    * restarts (in the same publish); the caller should also refresh
    * the [[DriftCheck]] stats ([[DriftCheck.writeFitStats]] on the
    * refit corpus — the check reads its stats path live).
    *
    * Restart contract: this instance swaps `newEncode` in for later
    * batches, but a maintainer constructed AFTER the refit gets
    * whatever `encode` closure the caller passes — always construct
    * with the transform of the PERSISTED model (each family's `load`
    * over `path`, which resolves the dirs through the manifest); a
    * stale closure would encode future arrivals against the
    * swapped-out geometry. */
  def refitAndSwap(vectors: DataFrame,
                   newEncode: DataFrame => DataFrame,
                   writeModel: String => Unit = _ => (),
                   modelSubs: Seq[String] = Nil): Unit = {
    val m = manifest()
    val live = vectors
      .join(liveCodes(m).select("vec_id"), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val n = newGeneration()
    writeCodes(newEncode(live), s"$path/${genDir(n)}/codes", "overwrite")
    writeModel(s"$path/${genDir(n)}")
    commitFold(m, n, "codes" +: modelSubs, batches, "drift_breaches" -> 0)
    encodeFn = newEncode
    val n2 = live.count()
    onRefit(n2)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' refit on $n2 live vectors after " +
        s"$batches batches (model swapped; drift-breach run reset)")
  }
}
