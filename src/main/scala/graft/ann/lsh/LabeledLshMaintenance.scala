package graft.ann.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.LsmStore.Manifest

/** Scheduled maintenance for a STORED label-partitioned LSH index
  * under streaming upserts/deletes — the [[LshMaintainer]] twin over
  * the [[LabeledLshIndex.save]] layout at `path`. The LSM protocol,
  * kill rule, batch step and cadence live in [[graft.ann.LsmStore]] and
  * [[graft.ann.VectorLsmStore]]; what is label-specific:
  *
  *   - labeled arrivals `(vec_id, embedding, label)` hash through the
  *     frozen persisted forest (map-side) and land in `vectors_delta` /
  *     `buckets_delta` (composite `(label, tree_id, hash, vec_id)`
  *     rows) — the [[LabeledLshIndex.append]] dedup rules applied per
  *     batch (one vector row per vec_id, one bucket row per
  *     `(vec_id, label)`); the occupancy watermark and the drift check
  *     read the deduped vector rows;
  *   - [[index]] serves the live view with the PERSISTED centroid
  *     sidecar — which makes the sidecar-staleness contract crash-safe
  *     and cadenced instead of ad hoc: between compactions the serve
  *     ranks against the last compaction's centroids (an arrival into
  *     an already-probed `(label, bucket)` serves immediately; one
  *     OPENING a new pair is unreachable — the
  *     [[LabeledLshIndex.append]] directory rule), and [[compactNow]]
  *     folds the logs AND recomputes the sidecar in the same
  *     crash-safe commit;
  *   - [[refitNow]] retrains the forest on the live vectors, rebuilds
  *     the labeled store from the live `(vec_id, label)` pairs
  *     (recovered from the bucket rows — labels are never stored
  *     twice), and swaps atomically.
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
  override protected def lsmLogDirs: Seq[String] =
    Seq("vectors_delta", "buckets_delta", "tombstones")
  override protected def countedTable: String = "vectors"
  override protected def storeLabel: String = "labeled LSH store"
  override protected def driftAdvice: String =
    "refitNow retrains the forest AND rebuilds the label partitions + " +
      "sidecar."
  override protected def occupancyAdvice: String =
    "per-probe cost inflates by the same factor, and the STALE sidecar " +
      "no longer ranks the newest mass. refitNow, or compact more often."

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

  /** The [[LabeledLshIndex.save]] layout's subdirs. */
  private val layout =
    Seq("model", "vectors", "buckets", "centroids", "labeled_meta")

  /** The base tables as [[LabeledLshIndex.load]] reads them (partition
    * columns cast back per its rules; labels pinned to STRING in the
    * read schema), each schema read once per dir. */
  private def vectorsBase(m: Manifest): DataFrame = readBase(m, "vectors")
  private def bucketsBase(m: Manifest): DataFrame =
    readBase(m, "buckets", "label")
      .select(col("label"), col("tree_id").cast("int").as("tree_id"),
        col("hash"), col("vec_id"))

  /** The serving view ([[graft.ann.LsmStore.liveViews]]) with the
    * PERSISTED (last-compaction) centroid sidecar — the crash-safe form
    * of the staleness contract (class doc). */
  def index: LabeledLshIndex = index(manifest())

  private def index(m: Manifest): LabeledLshIndex = {
    val Seq(vecs, bks) = liveViews(m)(
      vectorsBase(m) -> "vectors_delta", bucketsBase(m) -> "buckets_delta")
    new LabeledLshIndex(model(m), vecs, bks, centroidTrees(m),
      Some(readBase(m, "centroids", "label")
        .select(col("label"), col("tree_id").cast("int").as("tree_id"),
          col("hash"), col("centroid"))))
  }

  /** One streaming maintenance step. `arrivals` rows are `(vec_id,
    * embedding, label)` (multi-label arrivals as one row per label);
    * `deletes` rows are `(vec_id)`. An id in both is an upsert. */
  def onBatch(arrivals: Option[DataFrame],
              deletes: Option[DataFrame]): Unit =
    runBatch(deletes) { (m, seq) =>
      // the LabeledLshIndex.append dedup rules, per delta batch —
      // CHECKPOINTED ONCE: dropDuplicates is nondeterministic per
      // action when a batch carries conflicting embeddings for one id,
      // and the vectors write, the hash transform, the occupancy count,
      // and the drift aggregate MUST all read the same snapshot (a
      // vectors_delta row paired with another embedding's bucket hashes
      // would be durable store corruption); the checkpoint also stops
      // the dedup shuffle re-running per consumer. The count and the
      // drift check read VECTOR rows, not label rows: a multi-label
      // arrival is one vectors_delta row, and occupancy tracks the
      // at-rest vector table the frozen forest was fit for. Both logs
      // are written in their base's schema.
      arrivals.map { a0 =>
        val vecs = logRows(a0, vectorsBase(m).schema, seq)
          .dropDuplicates("vec_id").localCheckpoint()
        val lbls = a0.select(col("vec_id"),
            col("label").cast("string").as("label"))
          .dropDuplicates("vec_id", "label")
        vecs.write.mode("append").parquet(m.log("vectors_delta"))
        logRows(model(m).transform(vecs, "vec_id", "embedding")
            .join(lbls, "vec_id"), bucketsBase(m).schema, seq)
          .write.mode("append").parquet(m.log("buckets_delta"))
        vecs
      }
    }

  /** Fold the logs into the base AND recompute the centroid sidecar —
    * one generation, one publish, so the staleness window is exactly
    * the compaction cadence (class doc). */
  def compactNow(): Unit = {
    val m = manifest()
    val live = index(m)
    val v = live.vectors.localCheckpoint()
    val b = live.labeledBuckets.localCheckpoint()
    val n = newGeneration()
    // a fresh view (no precomputedCentroids) recomputes the sidecar
    // from the checkpointed live tables inside save
    new LabeledLshIndex(live.model, v, b, centroidTrees(m))
      .save(spark, s"$path/${genDir(n)}")
    val next = commitFold(m, n, layout, batches)
    modelCache = (next.base("model"), live.model)
    val folded = v.count()
    onCompacted(folded)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' compacted after $batches batches " +
        s"($folded live vectors, sidecar refreshed)")
  }

  /** The drift warning's prescribed action: retrain the forest on the
    * live vectors, rebuild the label partitions from the live
    * `(vec_id, label)` pairs (recovered from the bucket rows — one
    * `centroidTrees`-scoped distinct, labels are never stored twice),
    * recompute the sidecar, and publish it all as one generation. */
  def refitNow(config: LshConfig): Unit = {
    val m = manifest()
    val live = index(m)
    val v = live.vectors.localCheckpoint()
    val labels = live.labeledBuckets
      .where(col("tree_id") === 0)
      .select("vec_id", "label").dropDuplicates("vec_id", "label")
      .localCheckpoint()
    val fresh = Lsh.train(v, "vec_id", "embedding", config)
    val n = newGeneration()
    fresh.withLabels(labels, centroidTrees(m))
      .save(spark, s"$path/${genDir(n)}")
    val next = commitFold(m, n, layout, batches, "drift_breaches" -> 0)
    modelCache = (next.base("model"), fresh.model)
    val n2 = v.count()
    onRefit(n2)
    if (log.isInfoEnabled) log.info(
      s"$storeLabel '$path' refit on $n2 live vectors after " +
        s"$batches batches (fresh forest, rebuilt partitions + sidecar)")
  }
}
