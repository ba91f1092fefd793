package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.LsmStore.Manifest

/** Scheduled maintenance for a STORED LSH index under streaming
  * upserts/deletes — the LSH twin of [[graft.ann.GraphMaintainer]], a
  * miniature LSM store over the [[LshIndex.save]] layout at `path`. The
  * log/fence/sequence protocol, the tombstone kill rule, the batch step
  * and the compaction/drift cadence live in [[graft.ann.LsmStore]] and
  * [[graft.ann.VectorLsmStore]]; what is LSH-specific:
  *
  *   - arrivals hash once through the frozen persisted forest
  *     ([[LshModel.hashedRows]] — map-side) into one log,
  *     `hashed_delta`, in the base table's schema; [[index]] serves the
  *     one table through the shared live view — a map-side view over an
  *     ordinary [[LshIndex]], so search, filtered search, and
  *     candidate-pairs all compose;
  *   - [[compactNow]] rewrites only `hashed/` into a new generation;
  *     the manifest keeps naming the frozen model's dir;
  *   - the occupancy watermark counts the table's rows: frozen planes
  *     still hash arrivals correctly, but bucket occupancy — and so
  *     per-probe search cost — inflates by the growth factor;
  *     [[refitNow]] is the prescribed action, and the only step that
  *     re-splits buckets (and writes a model).
  *
  * A store in the two-table layout of earlier builds (`vectors/` +
  * `buckets/`) is refused by name at construction.
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
  override protected def lsmLogDirs: Seq[String] = Seq("hashed_delta", "tombstones")
  override protected def countedTable: String = "hashed"
  override protected def storeLabel: String = "stored LSH index"
  override protected def driftAdvice: String =
    "Frozen planes split the OLD density — occupancy will skew; refitNow."
  override protected def occupancyAdvice: String =
    "expected bucket occupancy — and per-probe search cost — has " +
      "inflated by the same factor. Refit the forest (refitNow), or " +
      "serve through cappedBuckets/maxCandidates (compaction drops " +
      "tombstoned rows but never re-splits buckets)."
  override protected def checkLayout(): Unit =
    Lsh.requireOneTable(spark, path, graft.ann.LsmStore.baseDir(spark, path))

  /** The frozen forest, loaded once per model dir — the class contract
    * is that arrivals hash through the PERSISTED model, so re-reading it
    * per micro-batch was pure repeated I/O. Keyed by the dir the
    * manifest names: a commit that throws after publishing leaves a
    * stale key, never a stale model. */
  private var modelCache: (String, LshModel) = ("", null)
  private def model(m: Manifest): LshModel = {
    val dir = m.base("model")
    if (modelCache._1 != dir) modelCache = (dir, LshModel.load(spark, dir))
    modelCache._2
  }

  /** The base table as [[Lsh.load]] reads it, its schema read once per
    * dir ([[graft.ann.LsmStore.readBase]]). */
  private def hashedBase(m: Manifest): DataFrame = readBase(m, "hashed")

  /** The serving view ([[graft.ann.LsmStore.liveViews]] over the one
    * table), resolved from one manifest read on the driver: with no
    * committed batch above the fence (e.g. just compacted) it is the
    * at-rest plan. Uses the once-loaded frozen [[model]] — `Lsh.load`
    * here would collect the forest's node table to the driver on EVERY
    * serving call (a per-micro-batch tax a foreachBatch loop pays for
    * nothing: the model is frozen by the class contract). */
  def index: LshIndex = index(manifest())

  private def index(m: Manifest): LshIndex = {
    val Seq(h) = liveViews(m)(hashedBase(m) -> "hashed_delta")
    new LshIndex(model(m), h)
  }

  /** One streaming maintenance step. `arrivals` rows are
    * (vec_id, embedding); `deletes` rows are (vec_id). An id in both is
    * an upsert. Arrivals are hashed once and written as one log in the
    * base's schema. */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit =
    runBatch(deletes) { (m, seq) =>
      arrivals.foreach { a =>
        logRows(model(m).hashedRows(a, "vec_id", "embedding"),
            hashedBase(m).schema, seq)
          .write.mode("append").parquet(m.log("hashed_delta"))
      }
      arrivals
    }

  /** Fold the logs into the base: write the live table into a new
    * generation, then publish it ([[graft.ann.LsmStore.commitFold]]) —
    * a crash before the publish leaves an orphan generation no
    * manifest names, and the old store serves on. The frozen model is
    * not rewritten: the new manifest keeps naming its dir. */
  def compactNow(): Unit = {
    val m = manifest()
    val h = index(m).hashed.localCheckpoint()
    val n = newGeneration()
    h.write.parquet(s"$path/${genDir(n)}/hashed")
    commitFold(m, n, Seq("hashed"), batches)
    val folded = h.count()
    onCompacted(folded)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' compacted after $batches batches " +
        s"($folded live vectors)")
  }

  /** The occupancy warning's prescribed action, as code: RETRAIN the
    * forest on the live view (arrivals included, tombstoned rows
    * dropped), write the whole store (model and table) as a new
    * generation and publish it with the breach run reset. The only
    * maintenance step that re-splits buckets — compaction folds rows
    * but keeps the frozen planes, so per-probe cost stays inflated until
    * this runs. Same seeding/occupancy rules as the original
    * [[Lsh.train]]; the maintainer swaps in the fresh model and keeps
    * serving. */
  def refitNow(config: LshConfig): Unit = {
    val m = manifest()
    val v = index(m).vectors.localCheckpoint()
    val fresh = Lsh.train(v, "vec_id", "embedding", config)
    val n = newGeneration()
    fresh.save(spark, s"$path/${genDir(n)}")
    val next = commitFold(m, n, Seq("model", "hashed"), batches,
      "drift_breaches" -> 0)
    modelCache = (next.base("model"), fresh.model)
    val n2 = v.count()
    onRefit(n2)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' refit on $n2 live vectors after " +
        s"$batches batches (occupancy restored to the config envelope)")
  }
}
