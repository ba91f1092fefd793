package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.LsmStore.Manifest

/** Scheduled maintenance for a STORED labeled LSH index under
  * streaming upserts/deletes — the [[LshMaintainer]] twin over the
  * [[LabeledLshIndex.save]] layout at `path`: the one LSH table
  * (`hashed/`, whose rows carry `labels`) plus the centroid sidecar.
  * The LSM protocol, kill rule, batch step and cadence live in
  * [[graft.ann.LsmStore]] and [[graft.ann.VectorLsmStore]]; what is
  * label-specific:
  *
  *   - labeled arrivals `(vec_id, embedding, label)` are grouped per
  *     vec_id (its labels collected into one set) and hashed through
  *     the frozen persisted forest ([[LabeledLshIndex.arrivalRows]])
  *     into one log, `hashed_delta`, in the base table's schema — one
  *     write, and a row's hashes are computed from its own embedding;
  *     the occupancy watermark and the drift check read those rows,
  *     one per vector;
  *   - [[index]] serves the live view with the PERSISTED centroid
  *     sidecar — which makes the sidecar-staleness contract crash-safe
  *     and cadenced instead of ad hoc: between compactions the serve
  *     ranks against the last compaction's centroids (an arrival into
  *     an already-probed `(label, bucket)` serves immediately; one
  *     OPENING a new pair is unreachable — the
  *     [[LabeledLshIndex.append]] directory rule), and [[compactNow]]
  *     folds the logs AND recomputes the sidecar in the same commit;
  *   - [[refitNow]] retrains the forest on the live vectors and rehashes
  *     the live rows, labels carried on each row, then publishes the
  *     new store as one generation.
  *
  * A store in the two-table layout of earlier builds (`vectors/` +
  * `buckets/`) is refused by name at construction.
  *
  * The sixth leg of [[graft.streaming.IngestPipeline]]. Stream==batch
  * identity and the staleness boundary are pinned by
  * LabeledLshMaintainerSpec. */
final class LabeledLshMaintainer(
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
  override protected def storeLabel: String = "labeled LSH store"
  override protected def driftAdvice: String =
    "refitNow retrains the forest AND rebuilds the table + sidecar."
  override protected def occupancyAdvice: String =
    "per-probe cost inflates by the same factor, and the STALE sidecar " +
      "no longer ranks the newest mass. refitNow, or compact more often."
  override protected def checkLayout(): Unit =
    Lsh.requireOneTable(spark, path, graft.ann.LsmStore.baseDir(spark, path))

  /** The frozen forest, loaded once per model dir (the
    * [[LshMaintainer.model]] rationale and keying). */
  private var modelCache: (String, LshModel) = ("", null)
  private def model(m: Manifest): LshModel = {
    val dir = m.base("model")
    if (modelCache._1 != dir) modelCache = (dir, LshModel.load(spark, dir))
    modelCache._2
  }

  /** The store's probe-selection cell structure, read once from the
    * persisted `labeled_meta` (frozen like the model). */
  private var centroidTreesCache: Int = -1
  private def centroidTrees(m: Manifest): Int = {
    if (centroidTreesCache < 0)
      centroidTreesCache = spark.read.parquet(m.base("labeled_meta"))
        .head().getAs[Int]("centroid_trees")
    centroidTreesCache
  }

  /** The base table as [[LabeledLshIndex.load]] reads it, its schema
    * read once per dir. */
  private def hashedBase(m: Manifest): DataFrame = readBase(m, "hashed")

  /** The serving view ([[graft.ann.LsmStore.liveViews]] over the one
    * table) with the PERSISTED (last-compaction) centroid sidecar — the
    * crash-safe form of the staleness contract (class doc). */
  def index: LabeledLshIndex = index(manifest())

  private def index(m: Manifest): LabeledLshIndex = {
    val Seq(h) = liveViews(m)(hashedBase(m) -> "hashed_delta")
    new LabeledLshIndex(new LshIndex(model(m), h), centroidTrees(m),
      Some(readBase(m, "centroids")))
  }

  /** One streaming maintenance step. `arrivals` rows are `(vec_id,
    * embedding, label)` (multi-label arrivals as one row per label);
    * `deletes` rows are `(vec_id)`. An id in both is an upsert. */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit =
    runBatch(deletes) { (m, seq) =>
      arrivals.map { a =>
        val rows = LabeledLshIndex.arrivalRows(model(m), a)
        logRows(rows, hashedBase(m).schema, seq)
          .write.mode("append").parquet(m.log("hashed_delta"))
        rows
      }
    }

  /** Fold the logs into the base AND recompute the centroid sidecar —
    * one generation holding `hashed/` and `centroids/`, one publish, so
    * the staleness window is exactly the compaction cadence (class
    * doc). The frozen model and `labeled_meta/` are not rewritten: the
    * new manifest keeps naming their dirs. */
  def compactNow(): Unit = {
    val m = manifest()
    val live = index(m)
    val h = live.index.hashed.localCheckpoint()
    val n = newGeneration()
    h.write.parquet(s"$path/${genDir(n)}/hashed")
    // a fresh view (no precomputed sidecar) recomputes it from the
    // checkpointed live table
    new LabeledLshIndex(new LshIndex(live.model, h), centroidTrees(m))
      .bucketCentroids.write.parquet(s"$path/${genDir(n)}/centroids")
    commitFold(m, n, Seq("hashed", "centroids"), batches)
    val folded = h.count()
    onCompacted(folded)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' compacted after $batches batches " +
        s"($folded live vectors, sidecar refreshed)")
  }

  /** The drift warning's prescribed action: retrain the forest on the
    * live vectors, rehash the live rows (each keeps its `labels`),
    * recompute the sidecar, and publish it all as one generation. */
  def refitNow(config: LshConfig): Unit = {
    val m = manifest()
    val live = index(m).index.hashed.select("vec_id", "embedding", "labels")
      .localCheckpoint()
    val fresh = Lsh.fit(live, "embedding", config)
    val n = newGeneration()
    new LabeledLshIndex(
      new LshIndex(fresh, fresh.hashedRows(live, "vec_id", "embedding", "labels")),
      centroidTrees(m)).save(spark, s"$path/${genDir(n)}")
    val next = commitFold(m, n,
      Seq("model", "hashed", "centroids", "labeled_meta"), batches,
      "drift_breaches" -> 0)
    modelCache = (next.base("model"), fresh)
    val n2 = live.count()
    onRefit(n2)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' refit on $n2 live vectors after " +
        s"$batches batches (fresh forest, rebuilt table + sidecar)")
  }
}
