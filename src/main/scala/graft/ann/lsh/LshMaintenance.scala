package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scheduled maintenance for a STORED LSH index under streaming
  * upserts/deletes — the LSH twin of [[graft.ann.GraphMaintainer]], a
  * miniature LSM store over the [[LshIndex.save]] layout at `path`. The
  * log/fence/sequence protocol, the tombstone kill rule, the batch step
  * and the compaction/drift cadence live in [[graft.ann.LsmStore]] and
  * [[graft.ann.VectorLsmStore]]; what is LSH-specific:
  *
  *   - arrivals hash through the frozen persisted forest
  *     ([[LshModel.transform]] — map-side) and land in
  *     `vectors_delta`/`buckets_delta`; [[index]] serves both tables
  *     through the shared live view — a map-side view over an ordinary
  *     [[LshIndex]], so search, filtered search, and candidate-pairs
  *     all compose;
  *   - [[compactNow]] rewrites the live view via [[LshIndex.save]],
  *     keeping the frozen planes;
  *   - the occupancy watermark counts the vector table: frozen planes
  *     still hash arrivals correctly, but bucket occupancy — and so
  *     per-probe search cost — inflates by the growth factor;
  *     [[refitNow]] is the prescribed action, and the only step that
  *     re-splits buckets.
  *
  * Stream==batch identity is pinned by StreamingLshLifecycleSpec.
  */
final class LshMaintainer(
    spark: SparkSession,
    path: String,
    protected val compactEvery: Int = graft.ann.LsmStore.DefaultCompactEvery,
    protected val occupancyWatermark: Double = 0.0,
    protected val driftCheck: Option[graft.ann.DriftCheck] = None,
    protected val refitAfterBreaches: Int = 3)
  extends graft.ann.VectorLsmStore {

  override protected def lsmSpark: SparkSession = spark
  override protected def lsmPath: String = path
  override protected def lsmLogDirs: Seq[String] =
    Seq("vectors_delta", "buckets_delta", "tombstones", "batch_commits")
  override protected def countedTable: String = "vectors"
  override protected def storeLabel: String = "stored LSH index"
  override protected def driftAdvice: String =
    "Frozen planes split the OLD density — occupancy will skew; refitNow."
  override protected def occupancyAdvice: String =
    "expected bucket occupancy — and per-probe search cost — has " +
      "inflated by the same factor. Refit the forest (refitNow), or " +
      "serve through cappedBuckets/maxCandidates (compaction drops " +
      "tombstoned rows but never re-splits buckets)."

  /** The frozen forest, loaded once — the class contract is that
    * arrivals hash through the PERSISTED model, so re-reading it per
    * micro-batch was pure repeated I/O. Replaced only by [[refitNow]]. */
  private var modelCache: LshModel = null
  private def model: LshModel = {
    if (modelCache == null) modelCache = LshModel.load(spark, s"$path/model")
    modelCache
  }

  /** The [[LshIndex.save]] layout's three subdirs, as compaction-commit
    * renames (temp → final). */
  private def storeRenames: Seq[(String, String)] =
    Seq("model", "vectors", "buckets")
      .map(sub => s"$CompactTmpDir/$sub" -> sub)

  /** The base tables as [[Lsh.load]] reads them, each with its schema
    * read once per instance ([[graft.ann.LsmStore.readBase]]). */
  private def vectorsBase: DataFrame = readBase("vectors")
  private def bucketsBase: DataFrame = readBase("buckets")
    .select(col("tree_id").cast("int").as("tree_id"), col("hash"),
      col("vec_id"))

  /** The serving view ([[graft.ann.LsmStore.liveViews]] over the
    * vector and bucket tables), resolved from one visibility snapshot:
    * with no committed batch above the fence (e.g. just compacted) it
    * is the at-rest plan plus the one commit-log read. Uses the
    * once-loaded frozen [[model]] — `Lsh.load` here would collect the
    * forest's node table to the driver on EVERY serving call (a
    * per-micro-batch tax a foreachBatch loop pays for nothing: the
    * model is frozen by the class contract, and compaction rewrites it
    * byte-identically). */
  def index: LshIndex = {
    val Seq(vecs, bks) = liveViews()(
      vectorsBase -> "vectors_delta", bucketsBase -> "buckets_delta")
    new LshIndex(model, vecs, bks)
  }

  /** One streaming maintenance step. `arrivals` rows are
    * (vec_id, embedding); `deletes` rows are (vec_id). An id in both is
    * an upsert. Both logs are written in their base's schema. */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit =
    runBatch(deletes) { seq =>
      arrivals.foreach { a0 =>
        val a = logRows(a0, vectorsBase.schema, seq)
        a.write.mode("append").parquet(s"$path/vectors_delta")
        logRows(model.transform(a, "vec_id", "embedding"),
            bucketsBase.schema, seq)
          .write.mode("append").parquet(s"$path/buckets_delta")
      }
      arrivals
    }

  /** Fold the logs into the base: rewrite the store from the live view
    * into the compaction temp dir, then run the crash-safe
    * swap-fence-drop commit ([[graft.ann.LsmStore.commitCompaction]]) —
    * a crash at any point either leaves the old store + logs fully
    * intact (pre-marker) or is finished by the next construction's
    * [[graft.ann.LsmStore.recoverCompaction]]. */
  def compactNow(): Unit = {
    val live = index
    val v = live.vectors.localCheckpoint()
    val b = live.buckets.localCheckpoint()
    new LshIndex(live.model, v, b).save(spark, s"$path/$CompactTmpDir")
    commitCompaction(batches, storeRenames)
    val folded = v.count()
    onCompacted(folded)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' compacted after $batches batches " +
        s"($folded live vectors)")
  }

  /** The occupancy warning's prescribed action, as code: RETRAIN the
    * forest on the live view (arrivals included, tombstoned rows
    * dropped), rewrite the whole store, drop the logs. The only
    * maintenance step that re-splits buckets — compaction folds rows
    * but keeps the frozen planes, so per-probe cost stays inflated
    * until this runs. Same seeding/occupancy rules as the original
    * [[Lsh.train]]; the maintainer swaps in the fresh model and keeps
    * serving. */
  def refitNow(config: LshConfig): Unit = {
    val v = index.vectors.localCheckpoint()
    val fresh = Lsh.train(v, "vec_id", "embedding", config)
    fresh.save(spark, s"$path/$CompactTmpDir")
    // breach-run reset staged into the commit (CodesMaintainer
    // .refitAndSwap rule): atomic with the model swap, re-applied by
    // recovery, never latched true over an already-refit store
    commitCompaction(batches, storeRenames :+ stageDriftBreachReset())
    modelCache = fresh.model
    val n = v.count()
    onRefit(n)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' refit on $n live vectors after " +
        s"$batches batches (occupancy restored to the config envelope)")
  }
}
