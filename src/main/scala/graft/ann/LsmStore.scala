package graft.ann

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** The LSM store every maintained index mixes in:
  * [[graft.ann.lsh.LshMaintainer]], [[graft.ann.lsh.LabeledLshMaintainer]]
  * and [[CodesMaintainer]] (through [[VectorLsmStore]]),
  * [[graft.retrieval.PostingsStore]], [[graft.text.DedupGate]] and
  * [[GraphMaintainer]]. It is the one place that knows the LSM
  * decisions, so the stores cannot drift apart:
  *
  *   - **seq-stamped logs, one visibility snapshot and the kill rule**
  *     ([[visibility]], [[liveViews]]): delta appends and tombstones
  *     carry the batch sequence and their base's schema ([[logRows]]).
  *     A view reads the fence and the commit log once, filters every
  *     log with the literal seq set they resolve to, and is its bare
  *     bases when no log seq is visible. Base rows sit at seq 0 under
  *     the visible deltas, and a tombstone kills rows of its key from
  *     STRICTLY EARLIER seqs, making same-batch delete+arrival an
  *     upsert. Every store except GraphMaintainer (whose arrivals
  *     revive ids) builds its serving view through [[liveViews]];
  *   - **persistent sequence**: recovered at construction as
  *     max(compaction fence, max seq across the logs) — a restarted
  *     counter would let an old tombstone kill a new arrival (old
  *     delete beats new insert: the LSM ordering inverted);
  *   - **compaction fence** (`_lsm_fence`, a tiny marker file): written
  *     AFTER the folded base lands and BEFORE the logs are deleted.
  *     Log rows with seq ≤ fence are already IN the base, and
  *     [[visibility]] drops them from every view — so a crash between
  *     the fence write and the log deletion re-serves correctly. The
  *     cadence is measured from the fence ([[compactionDueAt]]);
  *   - **crash-safe compaction commit** ([[commitCompaction]] /
  *     [[recoverCompaction]]): the folded base lands in TEMP subdirs,
  *     then an atomically published pre-commit marker records the
  *     target seq and the pending renames, and only then do the
  *     idempotent destructive steps run. Construction ([[recoverSeq]])
  *     FINISHES a commit whose marker it finds instead of serving
  *     duplicates; a crash before the marker leaves only inert temps;
  *   - **occupancy-watermark accounting** ([[ensureCounts]]): `fitRows`
  *     is the base the frozen model was fit against, `atRestRows` adds
  *     delta rows INCLUDING tombstoned ones (dead rows cost every probe
  *     until compacted out). Compaction resets `atRestRows` but KEEPS
  *     `fitRows` (the model is still the original fit); only a refit
  *     resets the reference.
  *
  * The batch step, the drift watermark and the compaction/refit
  * cadence of the three frozen-model vector stores live in
  * [[VectorLsmStore]].
  */
private[graft] trait LsmStore {

  protected def lsmSpark: SparkSession
  protected def lsmPath: String
  /** Log subdirs holding seq-stamped rows (delta logs + tombstones). */
  protected def lsmLogDirs: Seq[String]

  protected final def lsmFs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new Path(lsmPath).toUri, lsmSpark.sparkContext.hadoopConfiguration)

  protected final val SeqSchema = StructType(Seq(StructField("seq", IntegerType)))
  private val baseSchemas =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** The base table at `sub`, read with its schema: inferred once per
    * instance (compaction and refit rewrite the same columns), then
    * passed on every read, so a view starts no schema-inference job
    * while its file listing stays fresh (another process may compact).
    * `asString` columns read as STRING whatever their values look like
    * (partition columns, whose inferred type follows the values). */
  protected final def readBase(sub: String, asString: String*): DataFrame = {
    val p = s"$lsmPath/$sub"
    lsmSpark.read.schema(baseSchemas.getOrElseUpdate(sub, StructType(
      lsmSpark.read.parquet(p).schema.map(f =>
        if (asString.contains(f.name)) f.copy(dataType = StringType) else f))))
      .parquet(p)
  }

  /** The log at `sub` read with its known `schema` (empty when absent). */
  protected final def readLog(sub: String, schema: StructType): DataFrame = {
    val p = s"$lsmPath/$sub"
    if (lsmFs.exists(new Path(p))) lsmSpark.read.schema(schema).parquet(p)
    else lsmSpark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** `rows` cast to `fields` (bar `seq`) and stamped `seq`: the schema
    * every read of a [[liveViews]] log assumes — its base's schema (the
    * base's key, for tombstones) plus `seq INT`. */
  protected final def logRows(rows: DataFrame, fields: Seq[StructField],
                              seq: Int): DataFrame =
    rows.select(fields.filter(_.name != "seq")
      .map(f => col(f.name).cast(f.dataType).as(f.name)) :+
      lit(seq).as("seq"): _*)

  // ---- compaction fence ----

  /** Seq through which the logs have been folded into the base (0 when
    * no compaction has completed). A corrupt/unreadable marker reads as
    * 0 — conservative: stale rows re-serve as duplicates rather than
    * fresh rows being dropped. */
  protected final def readFence(): Int = readIntMarker("_lsm_fence")

  protected final def writeFence(seq: Int): Unit =
    writeFile(new Path(s"$lsmPath/_lsm_fence"), seq.toString)

  // ---- atomic multi-log batches ----

  /** Append the batch-commit record for `seq` — the LAST write of a
    * maintainer's onBatch, after every per-log append of the batch.
    * Log rows of a seq with no commit record are IGNORED by
    * [[visibility]], so a crash between a batch's log writes
    * leaves a PARTIAL batch invisible instead of diverging the store
    * (e.g. one postings table written and not the other, or a delete
    * logged without its same-batch upsert arrival). Recovery needs no
    * step: [[recoverSeq]] reads the max seq over ALL log rows
    * (committed or not) and maintainers burn their in-memory seq
    * BEFORE writing, so a retried batch — same instance or after a
    * restart — lands at a FRESH seq and the orphan rows stay invisible
    * until compaction drops the logs. */
  protected final def markBatchCommitted(seq: Int): Unit = {
    guardPoisoned()
    lsmSpark.range(1).select(lit(seq).as("seq"))
      .write.mode("append").parquet(s"$lsmPath/batch_commits")
  }

  /** (Re-)create the commit log, empty — its EXISTENCE is load-bearing:
    * a missing dir reads as legacy pass-through, so every path that
    * drops the logs must re-create it before new batches land, and
    * construction creates/backfills it ([[recoverSeq]]). */
  protected final def initCommitLog(): Unit =
    // the seq-0 sentinel keeps the dir NON-empty at rest, so sync/copy
    // tools that drop empty dirs cannot downgrade it to pass-through
    lsmSpark.range(1).select(lit(0).as("seq"))
      .write.mode("append").parquet(s"$lsmPath/batch_commits")

  // ---- poisoned-instance guard ----

  /** Set when the destructive half of a commit threw mid-swap: the
    * store may be HALF-SWAPPED on disk (e.g. new sparse + old bm25,
    * fence unstamped, logs visible). A caller that catches the commit
    * exception and keeps serving would read diverged or duplicated
    * views — healing only happens at the next CONSTRUCTION
    * ([[recoverCompaction]] retries the commit from the marker), so
    * every serving/maintenance entry point throws until then. */
  @volatile private var commitPoisoned: Boolean = false

  /** Throws when a failed commit has poisoned this instance (see
    * [[commitPoisoned]]) — called by every serving/batch entry point. */
  protected final def guardPoisoned(): Unit =
    if (commitPoisoned) throw new IllegalStateException(
      s"LSM store '$lsmPath': a compaction/swap commit failed mid-swap " +
        "on this instance — the on-disk store may be half-swapped. " +
        "Construct a new instance (it finishes the commit from the " +
        "pre-commit marker); do not keep serving from this one.")

  /** Run the destructive half of a commit, poisoning this instance if
    * it throws (the marker and temps stay on disk for recovery). */
  protected final def poisonOnFailure[T](f: => T): T =
    try { val r = f; commitPoisoned = false; r }
    catch { case e: Throwable => commitPoisoned = true; throw e }

  /** A [[visibility]] snapshot; `bare`: no log row can pass `pred`. */
  protected final class Visibility(val pred: Column, val bare: Boolean)

  /** The single visibility rule, resolved ONCE per view: one fence read
    * and one commit-log read (schema `seq INT`; the committed seqs above
    * the fence, a handful of ints, de-duplicated on the driver). Base
    * rows (seq 0) always pass; rows at or below the fence were folded by
    * a committed compaction and drop; rows above the fence pass only
    * with a batch-commit record. Every log a view reads filters with the
    * one literal `seq = 0 OR seq IN (…)`; with no committed seq above
    * the fence the view is `bare` (its bases alone, the at-rest plan).
    * The commit log exists from construction on ([[recoverSeq]] backfills
    * legacy stores; every log-dropping commit re-creates it), so the
    * missing-dir pass-through `seq = 0 OR seq > fence` applies only
    * between a commit's log-drop and its re-create (empty logs). */
  protected final def visibility(): Visibility = {
    guardPoisoned()
    val fence = readFence()
    val commits = s"$lsmPath/batch_commits"
    if (!lsmFs.exists(new Path(commits)))
      return new Visibility(col("seq") === 0 || col("seq") > fence, false)
    val seqs = lsmSpark.read.schema(SeqSchema).parquet(commits)
      .where(col("seq") > fence).collect().map(_.getInt(0)).distinct.sorted
    new Visibility(col("seq") === 0 || col("seq").isin(seqs.toSeq: _*),
      seqs.isEmpty)
  }

  // ---- the live view ----

  /** The visible tombstone log as (`key`, seq), `key` typed as in `base`. */
  protected final def visibleTombstones(base: DataFrame, key: String,
                                        vis: Visibility): DataFrame =
    readLog("tombstones", StructType(Seq(base.schema(key)) ++ SeqSchema))
      .where(vis.pred)

  /** `base` (carrying `seq`) ∪ the visible rows of the delta log at
    * `deltaSub`, read with the base's schema. */
  protected final def withVisibleDelta(base: DataFrame, deltaSub: String,
                                       vis: Visibility): DataFrame =
    base.unionByName(readLog(deltaSub, base.schema).where(vis.pred))

  /** The kill rule as a join: a row of `rows` is killed by a tombstone
    * of `tombs` on the same `key` at a STRICTLY later seq. `how` is
    * "left_anti" (the survivors) or "left_semi" (the killed rows). */
  protected final def killJoin(rows: DataFrame, tombs: DataFrame,
                               key: String, how: String): DataFrame =
    rows.join(tombs,
      rows(key) === tombs(key) && tombs("seq") > rows("seq"), how)

  /** The serving views under one snapshot `vis`: for each (base, delta
    * log) leg, base rows at seq 0 ∪ the visible delta, minus the rows a
    * visible tombstone on `key` kills (one tombstone read, broadcast,
    * shared by every leg). A `bare` snapshot returns the bases as they
    * are: no union, no anti-join. With `keepSeq` the base carries its
    * own `seq` column and the views keep it (stores whose rows keep
    * their seq through compaction); otherwise `seq` is dropped. */
  protected final def liveViews(key: String = "vec_id",
                                keepSeq: Boolean = false,
                                vis: Visibility = visibility())(
      legs: (DataFrame, String)*): Seq[DataFrame] =
    if (vis.bare) legs.map(_._1)
    else {
      val t = broadcast(visibleTombstones(legs.head._1, key, vis))
      legs.map { case (base, deltaSub) =>
        val all = withVisibleDelta(
          if (keepSeq) base else base.withColumn("seq", lit(0)), deltaSub, vis)
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
    seq - readFence() >= every

  // ---- consecutive-drift-breach run (the refitDue signal) ----

  /** Length of the consecutive-drifted-batch run ending at the most
    * recent MEASURED batch (a batch with arrivals under a configured
    * [[DriftCheck]]) — persistent via the `_drift_breaches` marker, so
    * a reconstructed maintainer agrees with the live one (the
    * `compactionDue` treatment: the refit signal must survive a
    * restart, or a crash loop would reset the clock forever). 0 when
    * never measured, the last measured batch was clean, or a refit
    * restarted the run. */
  final def driftBreaches: Int = readIntMarker("_drift_breaches")

  /** Record one measured batch: a breach extends the run, a clean
    * batch resets it. Returns the updated run length. One tiny marker
    * write per CHANGE of run length (a clean batch on a zero run is
    * free). */
  protected final def recordDriftBreach(breached: Boolean): Int = {
    val prev = driftBreaches
    val run = if (breached) prev + 1 else 0
    if (run != prev) publishMarker("_drift_breaches", run.toString)
    run
  }

  /** Stage a zeroed breach marker inside the compaction temp dir and
    * return its rename pair — a REFIT commit includes it in its
    * [[commitCompaction]] renames so the run reset is ATOMIC with the
    * model swap: a crash can never leave `refitDue` latched true over
    * an already-refit store, and recovery re-applies the reset. */
  protected final def stageDriftBreachReset(): (String, String) = {
    writeFile(new Path(s"$lsmPath/$CompactTmpDir/_drift_breaches"), "0")
    s"$CompactTmpDir/_drift_breaches" -> "_drift_breaches"
  }

  // ---- small atomic markers (shared by the compaction commit and
  //      GraphMaintainer's table-swap commit) ----

  /** Atomically publish a small marker file (temp + rename; ABORTS —
    * nothing destructive has run yet — when the FS reports failure,
    * which Hadoop FileSystems signal as `false`, not exceptions). */
  protected final def publishMarker(markerFile: String, body: String): Unit = {
    val tmp = new Path(s"$lsmPath/$markerFile.tmp")
    writeFile(tmp, body)
    val fin = new Path(s"$lsmPath/$markerFile")
    lsmFs.delete(fin, false)
    require(lsmFs.rename(tmp, fin),
      s"LSM store '$lsmPath': failed to publish marker '$markerFile' — " +
        "aborting before any destructive step")
  }

  /** Read a marker FULLY (None when absent). InputStream.read may
    * legally return fewer bytes than available — a single-read parse
    * could truncate a seq and corrupt recovery. */
  protected final def readMarker(markerFile: String): Option[String] = {
    val mp = new Path(s"$lsmPath/$markerFile")
    if (!lsmFs.exists(mp)) return None
    val in = lsmFs.open(mp)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      Some(new String(bos.toByteArray, "UTF-8"))
    } finally in.close()
  }

  /** An integer marker ([[readMarker]]); 0 when absent or unreadable. */
  protected final def readIntMarker(markerFile: String): Int =
    try readMarker(markerFile).map(_.trim).filter(_.nonEmpty)
      .map(_.toInt).getOrElse(0)
    catch { case _: Exception => 0 }

  /** Write a small file whole (its parent dirs are created). */
  private def writeFile(p: Path, body: String): Unit = {
    val out = lsmFs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  // ---- crash-safe compaction commit ----

  /** Subdir all compaction temp writes land under (relative to
    * [[lsmPath]]) before being swapped into place. */
  protected final val CompactTmpDir = "_compact_tmp"

  private def precommitPath = new Path(s"$lsmPath/_lsm_precommit")

  /** Commit a compaction whose folded base has already been fully
    * written under `$lsmPath/$CompactTmpDir`: atomically publish the
    * pre-commit marker (seq + pending renames), then swap each
    * (tmpSub, finalSub) into place, stamp the fence at `seq`, drop the
    * logs, drop the marker. The marker is written via temp-file +
    * rename so it is never observed partially; once it exists, the
    * commit is deterministic and [[recoverCompaction]] can finish it
    * after a crash at ANY later point. */
  protected final def commitCompaction(seq: Int,
                                       renames: Seq[(String, String)]): Unit = {
    publishMarker("_lsm_precommit",
      (seq.toString +: renames.map { case (t, f) => s"$t>$f" })
        .mkString("\n"))
    poisonOnFailure(finishCommit(seq, renames))
  }

  /** The destructive half of the commit — idempotent: a rename whose
    * temp dir is gone already happened, the fence write is monotone,
    * and the log/marker deletes are no-ops when already done. Runs
    * both live (from [[commitCompaction]]) and on recovery. Every
    * swap's boolean result is CHECKED: a failed delete-or-rename
    * throws with the marker and temp dirs still in place, so the
    * fence/log-drop never run on a half-swapped store and the next
    * open retries the commit. */
  private def finishCommit(seq: Int, renames: Seq[(String, String)]): Unit = {
    renames.foreach { case (tmp, fin) =>
      val tp = new Path(s"$lsmPath/$tmp")
      val fp = new Path(s"$lsmPath/$fin")
      if (lsmFs.exists(tp)) {
        require(!lsmFs.exists(fp) || lsmFs.delete(fp, true),
          s"LSM store '$lsmPath': failed to clear '$fin' for the " +
            "compaction swap — marker and temp base kept; reopen retries")
        require(lsmFs.rename(tp, fp),
          s"LSM store '$lsmPath': failed to swap '$tmp' into '$fin' — " +
            "marker and temp base kept; reopen retries")
      }
    }
    if (readFence() < seq) writeFence(seq)
    lsmLogDirs.foreach(sub => lsmFs.delete(new Path(s"$lsmPath/$sub"), true))
    lsmFs.delete(new Path(s"$lsmPath/$CompactTmpDir"), true)
    // re-create the (empty) commit log IMMEDIATELY: its absence reads
    // as legacy pass-through, and a first-post-compaction-batch crash
    // must be filtered, not passed through
    initCommitLog()
    lsmFs.delete(precommitPath, false)
  }

  /** Detect and finish a compaction that crashed mid-commit. Called by
    * [[recoverSeq]] so every maintainer heals at construction; safe to
    * call any time. No marker → nothing mid-commit (a crash BEFORE the
    * marker leaves only inert temp dirs, which the next compaction
    * overwrites — the base and logs are untouched at that point). */
  protected final def recoverCompaction(): Unit = {
    val body = readMarker("_lsm_precommit").getOrElse(return)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // Defensive parse: a 0-byte or garbled body means the publisher
    // crashed BEFORE publishMarker returned, hence before any
    // destructive step ran. ABORT the never-started commit (drop the
    // marker and the temp dir) rather than brick every construction.
    val parsed: Option[(Int, Seq[(String, String)])] = try {
      val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      val seq = lines.head.toInt
      val renames = lines.tail.map { l =>
        val i = l.indexOf('>')
        require(i > 0 && i < l.length - 1, s"rename line '$l' has no '>'")
        (l.substring(0, i), l.substring(i + 1))
      }
      Some((seq, renames))
    } catch { case _: Exception => None }
    parsed match {
      case None =>
        log.warn(
          s"LSM store '$lsmPath': the compaction pre-commit marker at " +
            s"$precommitPath is empty or unparseable (body: " +
            s"'${body.take(80)}') — the publishing process crashed " +
            "before the marker content synced, so no destructive step " +
            "ran. Discarding the marker and the temp dir; the aborted " +
            "compaction simply retries at its next cadence.")
        lsmFs.delete(precommitPath, false)
        lsmFs.delete(new Path(s"$lsmPath/$CompactTmpDir"), true)
      case Some((seq, renames)) =>
        log.warn(
          s"LSM store '$lsmPath': found a compaction pre-commit marker " +
            s"(seq $seq) — a previous process crashed mid-commit; finishing " +
            "the commit (swap folded base into place, stamp fence, drop logs).")
        poisonOnFailure(finishCommit(seq, renames))
    }
  }

  // ---- persistent sequence ----

  /** Recover the batch sequence at construction: heal any mid-commit
    * compaction first ([[recoverCompaction]]), then max(fence, max log
    * seq). Fresh store → 0; freshly-compacted store → the fence, so a
    * reconstructed maintainer agrees with the live one that compacted. */
  protected final def recoverSeq(): Int = {
    recoverCompaction()
    if (!lsmFs.exists(new Path(s"$lsmPath/batch_commits"))) {
      // legacy or fresh store: rows written before the commit-record
      // format were committed by the old single-write contract —
      // BACKFILL records for their seqs (atomically, via dir rename)
      // so activating the filter cannot drop them; a fresh store gets
      // the empty dir, so even its FIRST batch's crash is filtered
      val backfill = new Path(s"$lsmPath/_batch_commits_backfill")
      val legacySeqs = lsmLogDirs.filterNot(_ == "batch_commits")
        .map(readLog(_, SeqSchema))
        .reduce(_.unionByName(_))
        .where(col("seq") > 0).distinct()
        .persist()
      val nLegacy = legacySeqs.count()
      if (nLegacy > 0)
        // loud: on a true pre-format store this is the intended
        // upgrade; but if a new-format store LOST its commit log
        // (partial copy/sync), this backfill blesses any orphan rows —
        // the operator should know which of the two happened
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"LSM store '$lsmPath': no commit log found — backfilling " +
            s"commit records for $nLegacy existing log seq(s) as " +
            "legacy-committed (pre-commit-record format). If this " +
            "store was written under the commit-record format and its " +
            "commit log was lost in a copy, uncommitted partial " +
            "batches (if any) are being blessed here.")
      legacySeqs.unionByName(
          lsmSpark.range(1).select(lit(0).as("seq")))
        .write.mode("overwrite").parquet(backfill.toString)
      legacySeqs.unpersist(false)
      require(lsmFs.rename(backfill, new Path(s"$lsmPath/batch_commits")),
        s"LSM store '$lsmPath': failed to install the backfilled " +
          "commit log")
    }
    val logs = lsmLogDirs.map(readLog(_, SeqSchema)).reduce(_.unionByName(_))
    val m = logs.agg(max("seq")).head()
    math.max(readFence(), if (m.isNullAt(0)) 0 else m.getInt(0))
  }

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
  /** The table the occupancy watermark counts: the base at
    * `$lsmPath/<table>`, its delta log at `<table>_delta`. */
  protected def countedTable: String
  /** How log lines name the store, e.g. "stored LSH index". */
  protected def storeLabel: String
  /** The remedy the drift warning prescribes. */
  protected def driftAdvice: String
  /** What the occupancy warning says has inflated, and the remedy. */
  protected def occupancyAdvice: String

  /** Fold the logs into the base through [[commitCompaction]]. */
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
    * from the logs and the compaction fence, so a reconstructed
    * maintainer agrees with the live one). */
  def batchesSeen: Int = batches

  /** True when the NEXT `onBatch` call triggers compaction
    * ([[compactionDueAt]]). */
  def compactionDue: Boolean = compactionDueAt(batches + 1, compactEvery)

  /** True when the drift watermark has been breached by
    * `refitAfterBreaches` CONSECUTIVE measured batches — the refit
    * twin of [[compactionDue]], persistent across restarts via the
    * `_drift_breaches` marker ([[driftBreaches]]), so an operator loop
    * can poll it and refit exactly when the drift warnings stop being
    * noise and start being a new distribution. The refit resets the
    * run. */
  def refitDue: Boolean =
    driftCheck.nonEmpty && driftBreaches >= refitAfterBreaches

  /** One maintenance step. `writeArrivals(seq)` appends the family's
    * seq-stamped arrival rows and returns the frame the occupancy
    * watermark counts and the drift check grades (None without
    * arrivals); `deletes` rows are (vec_id). An id in both is an
    * upsert. */
  protected final def runBatch(deletes: Option[DataFrame])(
      writeArrivals: Int => Option[DataFrame]): Unit = {
    val seq = batches + 1
    // the seq is BURNED up front: a failed attempt's partial log rows
    // stay at a seq no retry reuses, so markBatchCommitted can never
    // bless a failed attempt's orphans
    batches = seq
    // counts snapshot BEFORE this batch's delta lands (counting after
    // the write would double-count the batch), from the parquet tables
    if (occupancyWatermark > 0) ensureCounts(
      readBase(countedTable).count(),
      readLog(s"${countedTable}_delta", SeqSchema).count())
    val counted = writeArrivals(seq)
    deletes.foreach { d =>
      logRows(d, Seq(readBase(countedTable).schema("vec_id")), seq)
        .write.mode("append").parquet(s"$lsmPath/tombstones")
    }
    // the batch becomes visible ATOMICALLY here: a crash above leaves
    // a partial batch that the visibility rule ignores
    markBatchCommitted(seq)
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
    * curve measured under the per-leg visibility join that
    * [[LsmStore.visibility]] replaced (1M×64-d, SCALE.md §Index
    * lifecycle; re-measure before changing it):
    * view searches are FLAT through ~25 batches of logs (3.0 → 3.4 s),
    * then small-fragment overhead compounds (5.0 s at 50, 7.4 s at
    * 100, vs a 2.0 s compacted baseline). 32 sits at the knee: serve
    * overhead stays inside ~20% while the fold amortizes to well under
    * the per-batch logging cost itself (14.8 s / 32 ≈ 0.5 s per
    * batch). Deployments with bigger batches (fewer, larger fragments)
    * can raise it; the watermark warnings fire either way. */
  val DefaultCompactEvery = 32
}
