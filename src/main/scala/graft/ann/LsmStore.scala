package graft.ann

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The LSM store every maintained index mixes in:
  * [[graft.ann.lsh.LshMaintainer]], [[graft.ann.lsh.LabeledLshMaintainer]]
  * and [[CodesMaintainer]] (through [[VectorLsmStore]]),
  * [[graft.retrieval.PostingsStore]], [[graft.text.DedupGate]] and
  * [[GraphMaintainer]]. One commit rule (Delta Lake's numbered log and
  * snapshot read over an LSM-tree): **a commit writes new files under
  * fresh names, then publishes manifest n+1**.
  *
  *   - **manifest** ([[LsmStore.Manifest]], `$path/_lsm/<n>`): key=value
  *     lines naming each base table's dir and the log generation's, the
  *     `fence` (the seq folded into the base), `commits` (the committed
  *     seqs above it) and the store's integers (`drift_breaches`,
  *     `stats_fence`, `scope_fence`), closed by `end`. Created
  *     exclusively, never overwritten: publishing onto an existing
  *     number, or over a newer manifest, is a named error (one writer
  *     per store). Readers take the newest manifest that parses, so a
  *     0-byte or truncated one (a crashed publish) is skipped;
  *   - **commits**: a batch appends its seq-stamped logs into the log
  *     generation and publishes its seq into `commits` ([[commit]]); a
  *     compaction or refit writes `gen-<n>/…` and publishes the new
  *     dirs with `fence` = its seq, no commits and `gen-<n>` as the
  *     fresh log generation ([[commitFold]]; a refit's breach-run reset
  *     rides along). Rows no manifest names are never served, and the
  *     seq is burned before the writes ([[recoverSeq]] counts every
  *     log row), so a retry lands at a fresh seq;
  *   - **views** ([[liveViews]]): one manifest read on the driver, not a
  *     Spark job, gives the dirs and the literal `seq = 0 OR seq IN
  *     (commits)`; with no commits the view is its bare bases. Bases
  *     are unpartitioned parquet read with their own schema
  *     ([[readBase]]); the two LSH stores each have one leg, the
  *     `hashed` table and its `hashed_delta` log (the labeled store's
  *     rows carry their `labels`, so a vector is one row). Base rows
  *     sit at seq 0 and a tombstone kills rows of its key from STRICTLY
  *     EARLIER seqs (same-batch delete+arrival is an upsert). All but
  *     GraphMaintainer (whose arrivals revive ids) serve through it;
  *   - **retention**: after publishing n+1 over n, the older manifests
  *     go with every dir they name that neither n nor n+1 names, and so
  *     does every `gen-*` no retained manifest names (a crashed
  *     commit's orphan). A view stays readable through one further
  *     commit; a failed delete is retried by the next commit;
  *   - **conversion**: generation 0 is the store root, so a fresh store
  *     keeps its paths. A store without `_lsm/` gets manifest 0 at
  *     construction: its root dirs, the rename-swap format's
  *     `_lsm_fence`, its `batch_commits` seqs above it (every log seq
  *     without a commit log) and its integer markers. That format's
  *     `_lsm_precommit` / `_postings_refit` marker (a swap stopped
  *     midway) is refused by name. `load`s resolve dirs through
  *     [[LsmStore.baseDir]];
  *   - **the graph exception**: GraphMaintainer's base is a catalog
  *     table read by name, so it keeps one rename (`_graph_swap`),
  *     publishes a fold manifest after it, and alone guards against a
  *     half-swapped instance;
  *   - **occupancy accounting** ([[ensureCounts]]): `fitRows` is the
  *     base the frozen model was fit against, `atRestRows` adds delta
  *     rows INCLUDING tombstoned ones. Compaction resets `atRestRows`;
  *     only a refit resets `fitRows`.
  *
  * The batch step, the drift watermark and the compaction/refit
  * cadence of the three frozen-model vector stores live in
  * [[VectorLsmStore]].
  */
private[graft] trait LsmStore {

  import LsmStore.Manifest

  protected def lsmSpark: SparkSession
  protected def lsmPath: String
  /** Log subdirs of a log generation holding seq-stamped rows (delta
    * logs + tombstones). */
  protected def lsmLogDirs: Seq[String]

  protected final def lsmFs: FileSystem =
    FileSystem.get(new Path(lsmPath).toUri, lsmSpark.sparkContext.hadoopConfiguration)

  private def lsmLog = org.slf4j.LoggerFactory.getLogger(classOf[LsmStore])

  protected final val SeqSchema = StructType(Seq(StructField("seq", IntegerType)))
  /** Base-table schemas keyed by the directory a manifest names. */
  private val baseSchemas =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** The base table `sub` of snapshot `m`, read with its schema: inferred
    * once per directory, then passed on every read, so a view starts no
    * schema-inference job while its file listing stays fresh. */
  protected final def readBase(m: Manifest, sub: String): DataFrame = {
    val p = m.base(sub)
    lsmSpark.read.schema(baseSchemas.getOrElseUpdate(p, lsmSpark.read.parquet(p).schema))
      .parquet(p)
  }

  /** The log at `p` read with its known `schema` (empty when absent). */
  protected final def readLog(p: String, schema: StructType): DataFrame =
    if (lsmFs.exists(new Path(p))) lsmSpark.read.schema(schema).parquet(p)
    else lsmSpark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `rows` cast to `fields` (bar `seq`) and stamped `seq`: the schema
    * every read of a [[liveViews]] log assumes — its base's schema (the
    * base's key, for tombstones) plus `seq INT`. */
  protected final def logRows(rows: DataFrame, fields: Seq[StructField],
                              seq: Int): DataFrame =
    rows.select(fields.filter(_.name != "seq")
      .map(f => col(f.name).cast(f.dataType).as(f.name)) :+
      lit(seq).as("seq"): _*)

  // ---- the manifest ----

  /** The newest manifest that parses: the snapshot a view reads and a
    * commit extends. */
  protected final def manifest(): Manifest =
    LsmStore.latest(lsmFs, lsmPath).getOrElse(throw new IllegalStateException(
      s"LSM store '$lsmPath': no readable manifest under _lsm/"))

  /** The snapshot a commit at `seq` extends. A seq the manifest already
    * holds (at or below the fence, or committed) means another writer
    * committed since this instance recovered its sequence: refused by
    * name before anything is written at that seq. */
  protected final def manifestFor(seq: Int): Manifest = {
    val m = manifest()
    if (seq <= (m.fence +: m.commits).max)
      throw LsmStore.concurrentWriter(lsmPath, s"seq $seq is already committed", null)
    m
  }

  /** The number the next manifest takes: one above every number on
    * disk, unreadable ones included, so a crashed publish is never
    * published onto. */
  protected final def nextNumber(): Int =
    LsmStore.numbers(lsmFs, lsmPath).headOption.fold(0)(_ + 1)

  /** The root of generation `n`, relative to [[lsmPath]]. */
  protected final def genDir(n: Int): String = s"gen-$n"

  /** Reserve generation `nextNumber()` for a commit that writes new
    * bases: its dir is cleared (the orphan of an attempt that crashed
    * before publishing) and its number returned for [[commitFold]] or
    * [[commit]]. */
  protected final def newGeneration(): Int = {
    val n = nextNumber()
    lsmFs.delete(new Path(s"$lsmPath/${genDir(n)}"), true)
    n
  }

  /** Publish `edit(from)` as manifest `n`, then apply retention. `from`
    * must still be the newest manifest that parses: a newer one means
    * another writer committed, and extending `from` would drop its
    * commit, so that is the same named error as publishing onto an
    * existing number. */
  protected final def commit(from: Manifest, n: Int = nextNumber())(
      edit: Manifest => Manifest): Manifest = {
    LsmStore.numbers(lsmFs, lsmPath).filter(_ > from.n)
      .find(LsmStore.parse(lsmFs, lsmPath, _).isDefined)
      .foreach(k => throw LsmStore.concurrentWriter(lsmPath,
        s"manifest $k was published after manifest ${from.n}", null))
    val next = edit(from).copy(n = n)
    LsmStore.write(lsmFs, next)
    retain(from, next)
    next
  }

  /** A compaction or refit commit: the bases `subs` written under
    * generation `n` replace `from`'s, the fence moves to `seq`, and `n`
    * starts a fresh log generation with no commits; `ints` ride the same
    * publish. The rewritten bases keep their columns, so their cached
    * schemas carry over to the new dirs. */
  protected final def commitFold(from: Manifest, n: Int, subs: Seq[String],
                                 seq: Int, ints: (String, Int)*): Manifest = {
    val next = commit(from, n)(m => m.withBases(genDir(n), subs).copy(
      logs = genDir(n), fence = seq, commits = Nil, ints = m.ints ++ ints))
    subs.foreach(s =>
      baseSchemas.get(from.base(s)).foreach(baseSchemas.put(next.base(s), _)))
    next
  }

  /** Delete what no retained manifest (`from`, `next`) names: the older
    * manifests with their dirs, and orphan generations. */
  private def retain(from: Manifest, next: Manifest): Unit = {
    val keep = from.dirs(lsmLogDirs) ++ next.dirs(lsmLogDirs)
    def drop(rel: String): Boolean = {
      val p = new Path(s"$lsmPath/$rel")
      val ok =
        try !lsmFs.exists(p) || lsmFs.delete(p, true)
        catch { case scala.util.control.NonFatal(_) => false }
      if (!ok) lsmLog.warn(s"LSM store '$lsmPath': could not delete the " +
        s"superseded '$rel'; the next commit retries")
      ok
    }
    LsmStore.numbers(lsmFs, lsmPath).filter(k => k < next.n && k != from.n)
      .foreach { k =>
        val stale = LsmStore.parse(lsmFs, lsmPath, k)
          .fold(Set.empty[String])(_.dirs(lsmLogDirs) -- keep)
        // the manifest goes last: it is what the retry reads
        if (stale.toSeq.map(drop).forall(identity)) drop(s"_lsm/$k")
      }
    lsmFs.listStatus(new Path(lsmPath)).map(_.getPath.getName)
      .filter(g => g.startsWith("gen-") &&
        !keep.exists(d => d == g || d.startsWith(g + "/")))
      .foreach(drop)
  }

  // ---- the live view ----

  /** The visible tombstone log as (`key`, seq), `key` typed as in `base`. */
  protected final def visibleTombstones(m: Manifest, base: DataFrame,
                                        key: String): DataFrame =
    readLog(m.log("tombstones"), StructType(Seq(base.schema(key)) ++ SeqSchema))
      .where(m.pred)

  /** `base` (carrying `seq`) ∪ the visible rows of the delta log
    * `deltaSub`, read with the base's schema. */
  protected final def withVisibleDelta(m: Manifest, base: DataFrame,
                                       deltaSub: String): DataFrame =
    base.unionByName(readLog(m.log(deltaSub), base.schema).where(m.pred))

  /** The kill rule as a join: a row of `rows` is killed by a tombstone
    * of `tombs` on the same `key` at a STRICTLY later seq. `how` is
    * "left_anti" (the survivors) or "left_semi" (the killed rows). */
  protected final def killJoin(rows: DataFrame, tombs: DataFrame,
                               key: String, how: String): DataFrame =
    rows.join(tombs,
      rows(key) === tombs(key) && tombs("seq") > rows("seq"), how)

  /** The serving views of snapshot `m`: for each (base, delta log) leg,
    * base rows at seq 0 ∪ the visible delta, minus the rows a visible
    * tombstone on `key` kills (one tombstone read, broadcast, shared by
    * every leg). The bases must be read from `m` ([[readBase]]). A
    * `bare` snapshot returns the bases as they are: no union, no
    * anti-join. With `keepSeq` the base carries its own `seq` column
    * and the views keep it (stores whose rows keep their seq through
    * compaction); otherwise `seq` is dropped. */
  protected final def liveViews(m: Manifest, key: String = "vec_id",
                                keepSeq: Boolean = false)(
      legs: (DataFrame, String)*): Seq[DataFrame] =
    if (m.bare) legs.map(_._1)
    else {
      val t = broadcast(visibleTombstones(m, legs.head._1, key))
      legs.map { case (base, deltaSub) =>
        val all = withVisibleDelta(m,
          if (keepSeq) base else base.withColumn("seq", lit(0)), deltaSub)
        val live = killJoin(all, t, key, "left_anti")
        if (keepSeq) live else live.drop("seq")
      }
    }

  /** The compaction cadence: true when a store whose latest seq is
    * `seq` has gone `every` batches since the LAST compaction (the
    * fence). Measured from the fence, not by seq divisibility — a
    * failed attempt burns its seq, and a burned multiple must defer
    * the fold by one batch, not a whole cycle. */
  protected final def compactionDueAt(seq: Int, every: Int): Boolean =
    seq - manifest().fence >= every

  // ---- consecutive-drift-breach run (the refitDue signal) ----

  /** Length of the consecutive-drifted-batch run ending at the most
    * recent MEASURED batch (a batch with arrivals under a configured
    * [[DriftCheck]]) — the manifest's `drift_breaches`, so a
    * reconstructed maintainer agrees with the live one (the refit
    * signal must survive a restart, or a crash loop would reset the
    * clock forever). 0 when never measured, the last measured batch was
    * clean, or a refit restarted the run. */
  final def driftBreaches: Int = manifest().int("drift_breaches")

  /** Record one measured batch: a breach extends the run, a clean
    * batch resets it. Returns the updated run length. One publish per
    * CHANGE of run length (a clean batch on a zero run is free). */
  protected final def recordDriftBreach(breached: Boolean): Int = {
    val m = manifest()
    val prev = m.int("drift_breaches")
    val run = if (breached) prev + 1 else 0
    if (run != prev) commit(m)(_.withInt("drift_breaches", run))
    run
  }

  // ---- opening the store ----

  /** Refuse, by name, a store whose layout this build does not read —
    * before opening it changes anything on disk. */
  protected def checkLayout(): Unit = ()

  /** Open the store: convert a store with no `_lsm/` to manifest 0, then
    * recover the batch sequence as the max of the fence, the commits
    * and every log row of the current generation (committed or not,
    * so a burned seq is never reused). A restarted counter would let an
    * old tombstone kill a new arrival. */
  protected final def recoverSeq(): Int = {
    checkLayout()
    if (!lsmFs.exists(new Path(s"$lsmPath/_lsm"))) convert()
    val m = manifest()
    val top = lsmLogDirs.map(s => readLog(m.log(s), SeqSchema))
      .reduce(_.unionByName(_)).agg(max("seq")).head()
    (Seq(m.fence, if (top.isNullAt(0)) 0 else top.getInt(0)) ++ m.commits).max
  }

  /** Manifest 0 over the store root (see the class doc). */
  private def convert(): Unit = {
    Seq("_lsm_precommit", "_postings_refit")
      .find(f => lsmFs.exists(new Path(s"$lsmPath/$f"))).foreach { f =>
        throw new IllegalStateException(s"LSM store '$lsmPath': '$f' " +
          "marks an unfinished commit of the rename-swap store format. " +
          "Open the store once with the previous build to finish it, " +
          "then open it here.")
      }
    val fence = readIntFile("_lsm_fence")
    val commitLog = s"$lsmPath/batch_commits"
    val committed =
      if (lsmFs.exists(new Path(commitLog))) readLog(commitLog, SeqSchema)
      else {
        val logged = lsmLogDirs.map(s => readLog(s"$lsmPath/$s", SeqSchema))
          .reduce(_.unionByName(_))
        if (!logged.where(col("seq") > fence).isEmpty)
          // loud: on a store written before commit records this is the
          // intended upgrade; if a later store LOST its commit log, any
          // uncommitted partial batch is being blessed here
          lsmLog.warn(s"LSM store '$lsmPath': no commit log found — every " +
            "log seq above the fence is taken as committed " +
            "(pre-commit-record format). If this store's commit log was " +
            "lost in a copy, uncommitted partial batches (if any) are " +
            "being blessed here.")
        logged
      }
    val commits = committed.where(col("seq") > fence).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val root = new Path(lsmPath)
    val bases =
      if (!lsmFs.exists(root)) Nil
      else lsmFs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(d => d.startsWith("_") || d.startsWith(".") ||
          d.startsWith("gen-") || d == "batch_commits" || lsmLogDirs.contains(d))
        .toSeq
    val markers = LsmStore.LegacyInts.map { case (k, f) => k -> readIntFile(f) }
      .filter(_._2 != 0)
    LsmStore.write(lsmFs, Manifest(lsmPath, 0, bases.map(d => d -> d).toMap,
      ".", fence, commits, markers.toMap))
    ("batch_commits" +: "_lsm_fence" +: LsmStore.LegacyInts.map(_._2))
      .foreach(f => lsmFs.delete(new Path(s"$lsmPath/$f"), true))
  }

  /** An integer in a small root file (0 when absent or unreadable). */
  private def readIntFile(name: String): Int =
    try LsmStore.readFile(lsmFs, new Path(s"$lsmPath/$name"))
      .map(_.trim).filter(_.nonEmpty).fold(0)(_.toInt)
    catch { case _: Exception => 0 }

  // ---- occupancy-watermark accounting ----

  protected var fitRows: Long = -1L
  protected var atRestRows: Long = -1L

  /** Take the base/delta snapshot once, BEFORE a batch's delta lands
    * (counting after the write would double-count the batch). The fit
    * reference is the base snapshot first observed — after crashes or
    * external compactions it may include absorbed arrivals; a refit
    * pins it to a true fit. */
  protected final def ensureCounts(baseCount: => Long,
                                   deltaCount: => Long): Unit =
    if (fitRows < 0) {
      fitRows = baseCount
      atRestRows = fitRows + deltaCount
    }

  /** Current at-rest growth factor vs the fit-time base (-1.0 until the
    * watermark path takes its first count). The number the occupancy
    * warning fires on. */
  final def atRestGrowth: Double =
    if (fitRows <= 0) -1.0 else atRestRows.toDouble / fitRows

  /** True when the warning should fire: counts taken, a non-empty fit
    * base (an empty-base bootstrap has no meaningful growth factor),
    * and at-rest rows past the watermark. */
  protected final def pastWatermark(watermark: Double): Boolean =
    watermark > 0 && fitRows > 0 && atRestRows > watermark * fitRows

  /** Compaction folded `folded` live rows: the at-rest count resets to
    * the base, the FIT reference does not (the model is unchanged). */
  protected final def onCompacted(folded: Long): Unit =
    if (fitRows >= 0) atRestRows = folded

  /** A refit retrained the model on `n` live rows: both reset. */
  protected final def onRefit(n: Long): Unit = {
    fitRows = n
    atRestRows = n
  }
}

/** The batch step and cadence shared by the frozen-model vector
  * stores — [[graft.ann.lsh.LshMaintainer]],
  * [[graft.ann.lsh.LabeledLshMaintainer]] and [[CodesMaintainer]].
  * [[runBatch]] is their one `onBatch` template: burn the seq, take the
  * occupancy snapshot, let the family write its arrivals, append the
  * tombstones, commit the batch, grade drift, then compact or warn. A
  * family supplies only what differs: how its arrivals are written and
  * which frame is counted and drift-checked, the table the occupancy
  * watermark counts, its log wording, and what [[compactNow]] rewrites.
  * PostingsStore and DedupGate share the cadence test
  * ([[LsmStore.compactionDueAt]]) but not this trait (no drift check
  * or refit).
  *
  * Driver-side state is one Int (the batch counter); everything heavy
  * is DataFrame jobs, so a maintainer is safe as a `foreachBatch` body.
  */
private[graft] trait VectorLsmStore extends LsmStore {

  protected def compactEvery: Int
  protected def occupancyWatermark: Double
  protected def driftCheck: Option[DriftCheck]
  protected def refitAfterBreaches: Int
  /** The table the occupancy watermark counts: the base `<table>`, its
    * delta log `<table>_delta`. */
  protected def countedTable: String
  /** How log lines name the store, e.g. "stored LSH index". */
  protected def storeLabel: String
  /** The remedy the drift warning prescribes. */
  protected def driftAdvice: String
  /** What the occupancy warning says has inflated, and the remedy. */
  protected def occupancyAdvice: String

  /** Fold the logs into a new base generation ([[commitFold]]). */
  def compactNow(): Unit

  require(compactEvery > 0, s"compactEvery $compactEvery must be positive")
  require(refitAfterBreaches > 0,
    s"refitAfterBreaches $refitAfterBreaches must be positive")

  protected final val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The LSM sequence is PERSISTENT state, recovered at construction
    * ([[recoverSeq]]). */
  protected var batches: Int = recoverSeq()

  /** (max shift in fit-MADs, max spread fold) of the most recent
    * batch's arrivals vs the fit stats — None until a batch with both
    * a configured [[DriftCheck]] and arrivals has run. */
  @volatile var lastDrift: Option[(Double, Double)] = None

  /** Batches applied over the store's lifetime (persistent: recovered
    * from the logs and the manifest, so a reconstructed maintainer
    * agrees with the live one). */
  def batchesSeen: Int = batches

  /** True when the NEXT `onBatch` call triggers compaction
    * ([[compactionDueAt]]). */
  def compactionDue: Boolean = compactionDueAt(batches + 1, compactEvery)

  /** True when the drift watermark has been breached by
    * `refitAfterBreaches` CONSECUTIVE measured batches — the refit
    * twin of [[compactionDue]], persistent across restarts through the
    * manifest ([[driftBreaches]]), so an operator loop can poll it and
    * refit exactly when the drift warnings stop being noise and start
    * being a new distribution. The refit resets the run. */
  def refitDue: Boolean =
    driftCheck.nonEmpty && driftBreaches >= refitAfterBreaches

  /** One maintenance step. `writeArrivals(m, seq)` appends the family's
    * seq-stamped arrival rows into snapshot `m`'s log generation and
    * returns the frame the occupancy watermark counts and the drift
    * check grades (None without arrivals); `deletes` rows are
    * (vec_id). An id in both is an upsert. */
  protected final def runBatch(deletes: Option[DataFrame])(
      writeArrivals: (LsmStore.Manifest, Int) => Option[DataFrame]): Unit = {
    val seq = batches + 1
    // the seq is BURNED up front: a failed attempt's partial log rows
    // stay at a seq no retry reuses, so no commit can bless them
    batches = seq
    val m = manifestFor(seq)
    // counts snapshot BEFORE this batch's delta lands (counting after
    // the write would double-count the batch), from the parquet tables
    if (occupancyWatermark > 0) ensureCounts(
      readBase(m, countedTable).count(),
      readLog(m.log(s"${countedTable}_delta"), SeqSchema).count())
    val counted = writeArrivals(m, seq)
    deletes.foreach { d =>
      logRows(d, Seq(readBase(m, countedTable).schema("vec_id")), seq)
        .write.mode("append").parquet(m.log("tombstones"))
    }
    // the batch becomes visible ATOMICALLY here: a crash above leaves
    // a partial batch no manifest names
    commit(m)(_.committed(seq))
    if (occupancyWatermark > 0)
      counted.foreach(a => atRestRows += a.count())
    // Distribution watermark (the cause the occupancy warning can only
    // name, measured): one aggregate over the BATCH against the
    // persisted fit stats — the corpus is never re-read. Reassigned
    // only when this batch HAS arrivals: lastDrift is "the most recent
    // batch's ARRIVALS" by contract, so a deletes-only batch must not
    // clobber the last measured drift with None.
    for (dc <- driftCheck; a <- counted) {
      val (shift, fold) = dc.maxDrift(a)
      lastDrift = Some((shift, fold))
      val breached = shift > dc.shiftWatermark || fold > dc.ratioWatermark
      // one clean batch resets the run: refitDue means SUSTAINED drift
      // (a new distribution the model must re-fit), not one noisy
      // batch — the DriftCheck small-batch noise caveat as scheduling
      val run = recordDriftBreach(breached)
      if (breached) log.warn(
        f"$storeLabel '$lsmPath' batch $seq arrivals have drifted " +
          f"from the fit distribution: max location shift $shift%.2f " +
          f"fit-MADs (watermark ${dc.shiftWatermark}), max spread fold " +
          f"$fold%.2f (watermark ${dc.ratioWatermark}); consecutive " +
          s"drifted batches: $run/$refitAfterBreaches before refitDue. " +
          driftAdvice)
    }
    if (compactionDueAt(batches, compactEvery)) compactNow()
    else if (pastWatermark(occupancyWatermark)) log.warn(
      s"$storeLabel '$lsmPath' holds $atRestRows rows at rest " +
        f"($atRestGrowth%.1fx the $fitRows-row base its frozen model " +
        s"was fit for) after $batches batches: $occupancyAdvice")
  }
}

object LsmStore {
  /** Default compaction cadence, read off the serve-latency-vs-log-depth
    * curve measured under the per-leg visibility join that the
    * one-snapshot view replaced (1M×64-d, SCALE.md §Index lifecycle;
    * re-measure before changing it):
    * view searches are FLAT through ~25 batches of logs (3.0 → 3.4 s),
    * then small-fragment overhead compounds (5.0 s at 50, 7.4 s at
    * 100, vs a 2.0 s compacted baseline). 32 sits at the knee: serve
    * overhead stays inside ~20% while the fold amortizes to well under
    * the per-batch logging cost itself (14.8 s / 32 ≈ 0.5 s per
    * batch). Deployments with bigger batches (fewer, larger fragments)
    * can raise it; the watermark warnings fire either way. */
  val DefaultCompactEvery = 32

  /** Manifest integers and the root marker files of the rename-swap
    * format they are converted from. */
  private val LegacyInts = Seq("drift_breaches" -> "_drift_breaches",
    "stats_fence" -> "_stats_fence", "scope_fence" -> "_scope_fence")

  /** One published manifest of the store at `root`: base table dirs and
    * the log generation (relative to `root`, "." for the root itself),
    * the fence, the committed seqs above it and the store's integers. */
  private[graft] final case class Manifest(
      root: String, n: Int, bases: Map[String, String], logs: String,
      fence: Int, commits: Seq[Int], ints: Map[String, Int]) {

    /** The dir of base table `sub` (the root's when the manifest does
      * not name it). */
    def base(sub: String): String = s"$root/${bases.getOrElse(sub, sub)}"
    /** The dir of log `sub` in the current log generation. */
    def log(sub: String): String = s"$root/${logRel(sub)}"
    def int(key: String): Int = ints.getOrElse(key, 0)
    /** The visibility rule as one literal: base rows (seq 0) and the
      * committed seqs above the fence. */
    def pred: Column = col("seq") === 0 || col("seq").isin(commits: _*)
    /** No log row is visible: the view is its bare bases. */
    def bare: Boolean = commits.isEmpty

    def committed(seq: Int): Manifest = copy(commits = commits :+ seq)
    def withInt(key: String, v: Int): Manifest = copy(ints = ints + (key -> v))
    def withBases(gen: String, subs: Seq[String]): Manifest =
      copy(bases = bases ++ subs.map(s => s -> s"$gen/$s"))

    private def logRel(sub: String) = if (logs == ".") sub else s"$logs/$sub"
    /** Every dir this manifest names, relative to `root`. */
    private[ann] def dirs(logSubs: Seq[String]): Set[String] =
      bases.values.toSet ++ logSubs.map(logRel)

    private[ann] def body: String =
      (bases.toSeq.sorted.map { case (s, d) => s"base.$s=$d" } ++
        Seq(s"logs=$logs", s"fence=$fence", s"commits=${commits.mkString(",")}") ++
        ints.toSeq.sorted.map { case (k, v) => s"$k=$v" } :+ "end")
        .mkString("", "\n", "\n")
  }

  private def manifestDir(root: String) = new Path(s"$root/_lsm")

  /** The manifest numbers on disk, newest first. */
  private[ann] def numbers(fs: FileSystem, root: String): Seq[Int] =
    if (!fs.exists(manifestDir(root))) Nil
    else fs.listStatus(manifestDir(root)).toSeq
      .flatMap(_.getPath.getName.toIntOption).sorted.reverse

  /** Manifest `n`, or None when it is missing, truncated (no closing
    * `end` line) or does not parse. */
  private[ann] def parse(fs: FileSystem, root: String, n: Int): Option[Manifest] =
    try readFile(fs, new Path(manifestDir(root), n.toString)).flatMap { text =>
      val lines = text.split("\n").toSeq
      if (lines.lastOption != Some("end")) None
      else {
        val kv = lines.init.map { l =>
          val i = l.indexOf('=')
          require(i > 0, s"manifest line '$l' has no key")
          l.take(i) -> l.drop(i + 1)
        }
        val fields = kv.toMap
        val fixed = Set("logs", "fence", "commits")
        Some(Manifest(root, n,
          kv.collect { case (k, v) if k.startsWith("base.") => k.drop(5) -> v }.toMap,
          fields("logs"), fields("fence").toInt,
          fields("commits").split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
          kv.collect { case (k, v) if !k.startsWith("base.") && !fixed(k) =>
            k -> v.toInt }.toMap))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The newest manifest of the store at `root` that parses (None when
    * the store has none). */
  private[graft] def latest(fs: FileSystem, root: String): Option[Manifest] =
    numbers(fs, root).iterator.flatMap(parse(fs, root, _)).nextOption()

  /** Publish `m` as `_lsm/<m.n>`: created exclusively, never
    * overwritten; the closing `end` line marks it complete. */
  private[graft] def write(fs: FileSystem, m: Manifest): Unit = {
    val p = new Path(manifestDir(m.root), m.n.toString)
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if fs.exists(p) =>
        throw concurrentWriter(m.root, s"manifest ${m.n} is already published", e)
      }
    try out.write(m.body.getBytes("UTF-8")) finally out.close()
  }

  /** The single-writer check's named error: `what` shows that another
    * writer committed to the store at `root`. */
  private[ann] def concurrentWriter(root: String, what: String,
                                    cause: Throwable): IllegalStateException =
    new IllegalStateException(s"LSM store '$root': $what — another writer " +
      "committed to this store. One writer per store; open a new " +
      "instance to continue from the newest manifest.", cause)

  /** A small file read whole (None when absent). */
  private[ann] def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** Where the base tables of the store at `path` live: the dirs its
    * newest manifest names, or `$path/<sub>` for a store without one. The
    * one lookup every `load` of a maintainable layout goes through. */
  private[graft] def baseDir(spark: SparkSession, path: String): String => String = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    latest(fs, path).fold((sub: String) => s"$path/$sub")(m => m.base)
  }
}
