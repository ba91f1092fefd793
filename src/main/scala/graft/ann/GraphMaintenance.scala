package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scheduled maintenance for a stored (bucketed) graph index under
  * streaming inserts — the enforcement of the degree-growth caveat on
  * [[GraphSearch.insert]]: `maxReverseDegree` caps a node's new
  * in-links PER BATCH, so over B batches an attractive hub still
  * accumulates up to k + B × cap edges, inflating every later walk's
  * frontier (per-hop cost is beamWidth × degree). The insert
  * amortization story therefore REQUIRES a periodic re-bound pass; this
  * class makes that requirement executable instead of prose:
  *
  *   - [[onBatch]] runs one insert+append maintenance step (the
  *     foreachBatch body of StreamingGraphInsertSpec) and counts it;
  *   - every `refineEvery` batches it triggers the scheduled refine:
  *     [[refineNow]] (the default) — rescore the stored edges exactly,
  *     cut every node back to its best k out-edges (the degree
  *     restore), run [[NnDescent.refine]] rounds to recover edge
  *     quality, re-union the connectivity backbone, and rewrite the
  *     bucketed store — or, with `scopedRefine = true`, the
  *     TOUCHED-REGION form [[refineScopedNow]], whose compute AND
  *     write cost scale with the batch window, not the corpus: only
  *     nodes within `scopeHops` hops of the window's
  *     inserts/deletes/watermark offenders are re-cut, committed as
  *     seq-stamped supersede + replacement rows in the LSM logs while
  *     every untouched base row stays byte-identical ([[servingEdges]]
  *     assembles the view). Scoped stores log insert deltas
  *     seq-stamped (`edges_delta`) instead of appending to the base;
  *   - the scoped store's logs DO NOT grow without bound: every
  *     `compactEvery` batches [[foldNow]] rewrites the bucketed base
  *     — always right after a scoped refine (the scheduled one, or an
  *     early consolidating refine when the fold cadence arrives first,
  *     so the window's deletes are already bridge-consolidated either
  *     way) from the served view — a RESCORE-FREE fold, no O(n·k)
  *     re-cut —
  *     applies the active tombstones physically, and drops every log
  *     through the same crash-safe swap commit a full refine uses.
  *     Serve cost is therefore bounded by the fold cadence instead of
  *     degrading with lifetime (the [[LsmStore]] compaction idiom;
  *     cadence default read off the measured serve-vs-depth curve,
  *     [[GraphMaintainer.DefaultFoldEvery]]);
  *   - between refines, an optional degree watermark
  *     (`degreeWatermark` > 0) warns when the stored max degree has
  *     outgrown the expected k + refineEvery × cap envelope — the
  *     [[graft.ann.lsh.Lsh.fit]] occupancy-warning pattern: loud,
  *     cheap, non-fatal.
  *
  * Driver-side state is one Int (the batch counter) — safe inside
  * `foreachBatch`, which runs on the driver. All heavy work is
  * DataFrame jobs: the insert walk (bounded frontier), the edge rescore
  * (one O(E) join pair), the refine (bounded co-neighbor joins), the
  * bucketed rewrite (one shuffle by src).
  *
  * Deletes use the SAME LSM idiom as the other maintainers
  * ([[LsmStore]]): seq-stamped path-based logs under `path` —
  * `tombstones` (vec_id, seq) and `arrivals` (the inserted ids,
  * (vec_id, seq)) — with the persistent sequence recovered at
  * construction (max of the compaction fence and the log seqs, so a
  * restarted maintainer continues the cadence AND the ordering). A
  * tombstone kills an id only until an arrival of the same id at an
  * EQUAL-OR-LATER seq: re-inserting a deleted id revives it (same
  * batch = upsert, later batch = re-add), closing the "old delete
  * beats new insert" inversion a bare id-set log has — where a
  * re-inserted id stayed excluded from serving and the next refine
  * silently dropped it. [[refineNow]] is this store's compaction. Its
  * base is the catalog table `${name}_edges`, read by name, so unlike
  * the dir-based stores it cannot publish a new generation: it keeps
  * one rename. The refined graph lands in a TEMP catalog table first,
  * a path-based swap marker records the commit, then the table is
  * dropped-and-renamed and a fold manifest is published (fence and
  * scope fence at the seq, no commits, a fresh log generation) — the
  * [[LsmStore]] commit rule after the rename. Construction detects the
  * marker and finishes a mid-commit crash, so every crash point either
  * leaves the old store + logs fully intact or self-heals on reopen.
  * This is the one store that can be half-swapped, so it alone
  * poisons an instance whose swap threw.
  */
final class GraphMaintainer(
    spark: SparkSession,
    name: String,
    path: String,
    idCol: String,
    vecCol: String,
    k: Int,
    beamWidth: Int,
    hops: Int,
    refineEvery: Int,
    maxReverseDegree: Int = 2,
    degreeWatermark: Int = 0,
    refineIterations: Int = 1,
    backbone: Boolean = true,
    metric: ExactNN.Metric = ExactNN.Cosine,
    roundTo: Int = 6,
    nBuckets: Int = 64,
    scopedRefine: Boolean = false,
    scopeHops: Int = 1,
    compactEvery: Int = GraphMaintainer.DefaultFoldEvery,
    scopePruneMax: Int = GraphMaintainer.DefaultScopePruneMax,
    scopePruneMinBytes: Long = GraphMaintainer.DefaultScopePruneMinBytes)
  extends LsmStore {

  require(refineEvery > 0, s"refineEvery $refineEvery must be positive")
  require(scopeHops > 0, s"scopeHops $scopeHops must be positive")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // a pure-scoped deployment that never folds accumulates supersede
  // records and delta fragments forever (the serve-path broadcast and
  // the per-leg fence/commit reads grow with them) — loud at
  // construction, like the Lsh.fit occupancy warning: the operator
  // disabled the only mechanism that bounds serve cost over time
  if (scopedRefine && compactEvery <= 0) log.warn(
    s"stored graph '$name': scopedRefine with compactEvery disabled " +
      s"($compactEvery) — superseded/edges_delta/tombstone logs will " +
      "grow without bound and serve cost degrades with store lifetime. " +
      "Schedule foldNow/refineNow manually, or set compactEvery > 0 " +
      s"(default ${GraphMaintainer.DefaultFoldEvery}).")

  override protected def lsmSpark: SparkSession = spark
  override protected def lsmPath: String = path
  override protected def lsmLogDirs: Seq[String] =
    Seq("tombstones", "arrivals", "edges_delta", "superseded")

  /** The LSM sequence is PERSISTENT state (recovered from the logs and
    * the manifest) — a reconstructed maintainer continues both the
    * refine CADENCE and the delete/re-insert ORDERING. A refine that
    * crashed mid-commit is finished FIRST ([[recoverSwap]]); legacy
    * catalog-table tombstones are folded in SECOND
    * ([[backfillLegacyTombstones]]) so pre-log-format pending deletes
    * don't silently resurrect on upgrade. */
  private var batches = {
    val s = recoverSeq()
    recoverSwap(s); backfillLegacyTombstones()
    // the scope fence joins the recovery max: an empty-region scoped
    // refine burns a seq that lands in NO log (its only trace is the
    // fence) — without this, a reconstructed maintainer would reuse
    // that seq and the next window's arrivals would sit at-or-below
    // the fence, permanently skipped by the scoped cadence
    math.max(s, scopeFence(manifest()))
  }

  /** Pending deletes of a pre-log-format store lived in the catalog
    * table `${name}_tombstones`; the log-based view reads only
    * `$path/tombstones` — without this fold, an existing store's
    * un-refined tombstones would silently resurrect on upgrade (the
    * manifest analog is the conversion of a store without one). Folded
    * at seq 0: visible without a commit, and killed by any later
    * re-insert arrival (seq ≥ 1 ≥ 0) — exactly the legacy semantics,
    * where every logged arrival postdates the legacy table. The
    * legacy table is dropped after the fold so this runs once. */
  private def backfillLegacyTombstones(): Unit = {
    val legacy = s"${name}_tombstones"
    if (!spark.catalog.tableExists(legacy)) return
    log.warn(s"stored graph '$name': found the pre-log-format tombstone " +
      s"table '$legacy' — folding its ids into the seq-stamped " +
      s"tombstone log (seq 0) and dropping the legacy table, so " +
      "pending deletes survive the upgrade.")
    spark.table(legacy).select(col("vec_id"), lit(0).as("seq"))
      .write.mode("append").parquet(manifest().log("tombstones"))
    spark.sql(s"DROP TABLE IF EXISTS $legacy")
  }

  // ---- crash-safe refine commit: the table rename, then a fold
  //      manifest ----

  private def swapMarkerPath =
    new org.apache.hadoop.fs.Path(s"$path/_graph_swap")
  private def tmpTable = s"${name}_swap_edges"
  private def finalTable = s"${name}_edges"

  /** Set when a swap threw mid-commit: the store may be HALF-SWAPPED
    * (refined table renamed in, old logs still served). A caller that
    * catches the exception and keeps serving would read a diverged
    * view — healing happens at the next CONSTRUCTION ([[recoverSwap]]),
    * so every serving/maintenance entry point throws until then. */
  @volatile private var swapPoisoned = false

  private def guardPoisoned(): Unit =
    if (swapPoisoned) throw new IllegalStateException(
      s"stored graph '$name': a refine swap failed mid-commit on this " +
        "instance — the store may be half-swapped. Construct a new " +
        "instance (it finishes the swap from the marker); do not keep " +
        "serving from this one.")

  /** The snapshot every view and commit of this store reads. */
  private def snapshot(): LsmStore.Manifest = { guardPoisoned(); manifest() }

  /** Publish the swap marker atomically (temp file + rename), BEFORE any
    * destructive step. */
  private def publishMarker(seq: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_graph_swap.tmp")
    val out = lsmFs.create(tmp, true)
    try out.write(seq.toString.getBytes("UTF-8")) finally out.close()
    lsmFs.delete(swapMarkerPath, false)
    require(lsmFs.rename(tmp, swapMarkerPath),
      s"stored graph '$name': failed to publish the swap marker — " +
        "aborting before any destructive step")
  }

  /** The destructive half of the refine commit — idempotent: the
    * rename is skipped when the temp table is gone (it already
    * happened), the fold manifest is published only while the fence is
    * below `seq`, and the marker delete is a no-op when done. Runs live
    * and on recovery; a throw poisons this instance. */
  private def finishSwap(seq: Int): Unit =
    try {
      if (spark.catalog.tableExists(tmpTable)) {
        spark.sql(s"DROP TABLE IF EXISTS $finalTable")
        spark.sql(s"ALTER TABLE $tmpTable RENAME TO $finalTable")
      }
      val m = manifest()
      // a full refine absorbs everything a scoped refine would — the
      // scope fence moves with the fence so the scoped cadence
      // restarts from here
      if (m.fence < seq) commitFold(m, newGeneration(), Nil, seq,
        "scope_fence" -> math.max(seq, scopeFence(m)))
      lsmFs.delete(swapMarkerPath, false)
    } catch { case e: Throwable => swapPoisoned = true; throw e }

  /** Detect and finish a refine that crashed mid-commit. No marker →
    * nothing was mid-commit (an orphan temp table from a pre-marker
    * crash is inert; the next refine drops it before writing). A 0-byte
    * or garbled marker (an FS that creates the rename target before the
    * content syncs) reads as the recovered seq `seq`: a swap runs at
    * the current seq, and no batch follows a crashed one. */
  private def recoverSwap(seq: Int): Unit =
    LsmStore.readFile(lsmFs, swapMarkerPath).foreach { body =>
      val s = body.trim.toIntOption.getOrElse(seq)
      log.warn(s"stored graph '$name': found a refine swap marker " +
        s"(seq $s) — a previous process crashed mid-commit; finishing " +
        "the commit (swap refined table into place, publish the fold).")
      finishSwap(s)
    }

  /** Insert batches applied over the store's lifetime (refines don't
    * reset — the cadence is "every Nth batch"). */
  def batchesSeen: Int = batches

  /** Seq through which arrivals/deletes have been absorbed by a SCOPED
    * refine (the manifest's `scope_fence`, 0 = never) — the
    * touched-region twin of the LSM fence: full refines advance both
    * (finishSwap), scoped refines advance only this one (the logs they
    * DIDN'T fold — tombstone revival history, un-refined arrivals —
    * stay live). */
  private def scopeFence(m: LsmStore.Manifest): Int = m.int("scope_fence")

  /** The last refine of either kind — the cadence origin. */
  private def lastRefineSeq: Int = {
    val m = manifest()
    math.max(m.fence, scopeFence(m))
  }

  /** True when the NEXT [[onBatch]] call will trigger the scheduled
    * refine — exposed so callers can align checkpoints around it. The
    * cadence is measured from the LAST refine (full fence or scope
    * fence), not by seq divisibility — a failed attempt burns its seq,
    * and a burned multiple must defer the refine by one batch, not a
    * whole cycle. */
  def refineDue: Boolean = (batches + 1) - lastRefineSeq >= refineEvery

  /** The log at `p` read with its schema inferred (`empty` when
    * absent): the graph logs' id columns take the type of the caller's
    * `idCol`. */
  private def readOr(p: String, empty: => DataFrame): DataFrame =
    if (lsmFs.exists(new org.apache.hadoop.fs.Path(p))) spark.read.parquet(p)
    else empty
  private def emptySeqIds: DataFrame =
    spark.range(0).select(col("id").as("vec_id"), lit(0).as("seq"))
  private def emptyEdges: DataFrame =
    spark.range(0).select(col("id").as("src"), col("id").as("dst"),
      lit(0).as("seq"))
  private def emptySrcSeq: DataFrame =
    spark.range(0).select(col("id").as("src"), lit(0).as("seq"))

  /** The stored graph as SERVED: the bucketed base plus the committed
    * `edges_delta` log rows, under the SUPERSEDE rule — a scoped refine
    * that re-cut a node's out-edges at seq s writes a `superseded`
    * record (src, s), after which the node's base rows and any delta
    * rows older than s are dead; its replacement rows (written at s)
    * and any NEWER additive rows serve. Untouched nodes' base rows are
    * never rewritten — byte-identical through any number of scoped
    * refines (the whole point: a scoped refine's write cost is
    * O(region), not O(corpus)). The log legs are BOUNDED in time:
    * [[foldNow]] (scheduled every `compactEvery` batches) folds them
    * into the base, so the supersede broadcast and fragment counts
    * reset each cadence instead of growing with store lifetime.
    *
    * Plan shape: the base leg keeps its bucketed zero-Exchange walk
    * property; the supersede rule is one broadcast join + filter
    * (supersede records are region-sized per refine, dropped at every
    * full refine); the delta leg is batch-sized files. In full-refine
    * mode ([[scopedRefine]] = false) both legs are empty and this view
    * IS [[GraphSearch.loadBucketed]]. The view carries no duplicate
    * (src, dst) rows by construction: insert deltas are anti-joined in
    * [[onBatch]] against the serving rows they could duplicate (a
    * delete→re-insert revives an id whose un-superseded rows still
    * serve), and scoped-refine additive rows against the rows they
    * extend, before landing. */
  def servingEdges: DataFrame = {
    val base0 = GraphSearch.loadBucketed(spark, name)
      .select(col("src"), col("dst"))
    // full-refine mode never writes the scoped legs — short-circuit to
    // the bare bucketed read so the default mode's hot paths (the walk
    // re-evaluates this frame per hop) don't pay union + log reads + a
    // supersede join for provably empty legs. The dir checks guard the
    // one legitimate crossover (a full-mode maintainer opened on a
    // store a scoped one wrote): present logs are always honored.
    val m = snapshot()
    if (!scopedRefine &&
        !lsmFs.exists(new org.apache.hadoop.fs.Path(m.log("edges_delta"))) &&
        !lsmFs.exists(new org.apache.hadoop.fs.Path(m.log("superseded"))))
      return base0
    val base = base0.withColumn("seq", lit(0))
    val delta = readOr(m.log("edges_delta"), emptyEdges).where(m.pred)
      .select("src", "dst", "seq")
    val sup = readOr(m.log("superseded"), emptySrcSeq).where(m.pred)
      .groupBy("src").agg(max("seq").as("sup_seq"))
    base.unionByName(delta)
      .join(broadcast(sup), Seq("src"), "left")
      .where(col("sup_seq").isNull || col("seq") >= col("sup_seq"))
      .select("src", "dst")
  }

  /** ACTIVE delete tombstones (FreshDiskANN-style, arXiv:2105.09613):
    * logged by [[onBatch]]'s `deletes`, applied physically by the next
    * [[refineNow]] consolidation. Until then, serving callers pass this
    * as `excluded` to [[GraphSearch.beamFrom]] — walks route THROUGH
    * deleted nodes (cutting them early would sever the paths they
    * anchor) but never serve them. A tombstone is DEAD once an arrival
    * of the same id lands at an equal-or-later seq (re-insertion
    * revives the id; same-batch delete+insert is an upsert). */
  def tombstones: DataFrame = {
    val m = snapshot()
    val t = readOr(m.log("tombstones"), emptySeqIds).where(m.pred)
      .select(col("vec_id"), col("seq").as("tseq"))
    val a = readOr(m.log("arrivals"), emptySeqIds).where(m.pred)
      .select(col("vec_id").as("aid"), col("seq").as("aseq"))
    t.join(broadcast(a), t("vec_id") === a("aid") && a("aseq") >= t("tseq"),
        "left_anti")
      .select("vec_id").distinct()
  }

  /** One streaming maintenance step: log `deletes` and the arriving ids
    * (seq-stamped), beam-insert `newVectors` against the stored graph
    * (walks exclude ACTIVE tombstoned link targets — a same-batch
    * delete+re-insert id is already revived and linkable), append the
    * delta (edges touching an arriving id) to the bucketed store, and
    * run the scheduled refine when due. `vectors` must cover existing
    * AND arriving ids (the walk scores against it; the refine rescans
    * it) — refineNow drops tombstoned rows itself. Returns the
    * appended delta.
    *
    * The delta filter is two semi-joins against the arriving id set —
    * never a collected id list, so a large micro-batch cannot build an
    * unbounded `isin` literal. */
  def onBatch(vectors: DataFrame, newVectors: DataFrame,
              entries: DataFrame,
              deletes: Option[DataFrame] = None): DataFrame = {
    guardPoisoned()
    val seq = batches + 1
    // the seq is BURNED up front: a failed attempt's partial log rows
    // stay at a seq no retry reuses (same-instance or post-restart),
    // so no commit can ever bless a failed attempt's orphans
    batches = seq
    val m = manifestFor(seq)
    // the two log appends land in DISJOINT directories and neither is
    // visible until the commit below — independent jobs, run
    // concurrently (guide §2.6; each is a small fixed-latency write).
    // The old "arrivals logged BEFORE the tombstone view" ordering note
    // still holds observably: visibility is the commit, not the write
    // order, and the tombstone view is taken only after both.
    graft.ann.ParallelFit.run(2) {
      case 0 => deletes.foreach(_.select(col("vec_id"), lit(seq).as("seq"))
        .write.mode("append").parquet(m.log("tombstones")))
      case 1 => newVectors.select(col(idCol).as("vec_id"), lit(seq).as("seq"))
        .write.mode("append").parquet(m.log("arrivals"))
    }
    // atomic log visibility BEFORE the walk: a crash between the two
    // log writes leaves a partial batch (a delete without its upsert
    // arrival) invisible. A crash during the walk/edge append leaves
    // the logs committed and the arrival EDGE-LESS: with the default
    // backbone the next refine re-links it (randomBackbone runs over
    // the live vectors, which include it); with backbone = false no
    // refine creates edges for an absent node — re-insert the id
    val committed = commit(m)(_.committed(seq))
    // Scoped mode's served view is base ∪ delta + a supersede join over
    // two LSM log scans — NOT the bare bucketed read — and the insert
    // walk below re-evaluates its edge frame once per hop (plus the
    // dup-reference probe): checkpoint it lazily ONCE per batch so the
    // hops read persisted blocks instead of re-running the view's
    // joins/scans (hops + 2)× (guide §2.4). Full-refine mode keeps the
    // raw bucketed scan — zero-Exchange per hop, nothing to save. The
    // blocks are released at the end of the batch.
    val stored0 = servingEdges
    val storedCk =
      if (scopedRefine) stored0.localCheckpoint(eager = false) else stored0
    val stored = storedCk
    val pending = tombstones
    val excl = if (pending.isEmpty) None else Some(pending)
    val extended = GraphSearch.insert(
      stored.withColumn("dist", lit(2.0)), vectors, idCol, vecCol,
      newVectors, k, beamWidth, hops, entries,
      maxReverseDegree, metric, roundTo, symmetrize = false,
      excluded = excl)
    val newIds = newVectors.select(col(idCol).as("nid"))
    // Materialized BEFORE the append (and the scheduled refine below):
    // the lazy frame's lineage reads the stored edge table and the
    // tombstone log, both of which the refine rewrites/drops — a caller
    // evaluating the returned delta after a refine batch would otherwise
    // hit a missing table or silently replay the walk against the
    // post-refine graph. The delta is a bounded batch-sized frame; the
    // checkpoint is one small job and the append reuses its rows.
    val delta = extended
      .join(newIds, col("src") === col("nid"), "left_semi")
      .unionByName(extended
        .join(newIds, col("dst") === col("nid"), "left_semi"))
      .dropDuplicates("src", "dst")
      .select(col("src"), col("dst"), col("dist"))
      .localCheckpoint()
    // A delete→re-insert of a KNOWN id breaks appendBucketed's
    // "arriving ids were never seen" disjointness: the revived id's old
    // rows still serve (no supersede record was written — tombstones
    // are serve-time exclusions until a refine), so the walk's new
    // edges can duplicate them. Anti-join the symmetrized delta against
    // the rows it could duplicate — a BOUNDED probe: serving rows whose
    // src is a delta endpoint (the delta is symmetric, so endpoints ==
    // srcs), batch-sized broadcast against the bucketed scan.
    val deltaSym = delta.select(col("src"), col("dst"))
      .unionByName(delta.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
    val dupRef = stored
      .join(broadcast(deltaSym.select(col("src")).distinct()),
        Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
    // checkpointed: the anti-join's lineage reads the stored table the
    // full-mode append writes into (and the scoped refine drops)
    val deltaNew = deltaSym.join(dupRef, Seq("src", "dst"), "left_anti")
      .localCheckpoint()
    // The delta lands per mode: the full-refine store appends straight
    // into the bucketed base (zero extra serving legs — every refine
    // rewrites the table anyway; already symmetrized + dedup'd above,
    // so the write is direct); the scoped store logs it seq-stamped
    // so [[refineScopedNow]]'s supersede rule can never kill a
    // POST-refine arrival edge (base rows read as seq 0 — an appended
    // row would look older than the supersede that preceded it).
    if (scopedRefine)
      deltaNew.withColumn("seq", lit(seq))
        .write.mode("append").parquet(committed.log("edges_delta"))
    else deltaNew.write.mode("append")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(s"${name}_edges")
    if (batches - lastRefineSeq >= refineEvery) {
      if (scopedRefine) {
        refineScopedNow(vectors)
        // the fold always runs right after a scoped refine, so every
        // pending delete has been bridge-consolidated before the fold
        // applies it physically (foldNow's ordering contract)
        if (compactEvery > 0 && compactionDueAt(batches, compactEvery))
          foldNow()
      } else refineNow(vectors)
    } else if (scopedRefine && compactEvery > 0 &&
        compactionDueAt(batches + 1, compactEvery)) {
      // the fold cadence arrived BEFORE the refine cadence
      // (compactEvery < refineEvery): quantizing the fold to the
      // refine schedule would let the logs grow for refineEvery
      // batches regardless of compactEvery — the bound the fold
      // exists to enforce. Consolidate the window first (an early
      // scoped refine — foldNow's ordering contract; the scope fence
      // advances, so the scheduled cadence re-bases here), then fold.
      refineScopedNow(vectors)
      foldNow()
    }
    else if (degreeWatermark > 0) {
      val maxDeg = maxStoredDegree
      if (maxDeg > degreeWatermark) log.warn(
        s"stored graph '$name' max degree $maxDeg exceeds watermark " +
          s"$degreeWatermark after $batches insert batches: reverse-link " +
          s"accumulation is outrunning the refine cadence (every " +
          s"$refineEvery) — lower refineEvery or maxReverseDegree " +
          "(GraphSearch.insert degree-growth caveat).")
    }
    // release the batch's served-view blocks (deltaNew above is an
    // EAGER checkpoint and the refine paths derive their own view, so
    // nothing still needs them; a truncated-lineage RDD would be
    // unrecoverable if left pinned across a long-running loop anyway)
    if (scopedRefine) storedCk.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ =>
    }
    // the APPENDED delta — post-dedup, matching what actually landed
    // in edges_delta/the bucketed table, so a caller mirroring the
    // store from the return value agrees with servingEdges after a
    // delete→re-insert batch (whose duplicate rows the anti-join
    // dropped)
    deltaNew
  }

  /** Max per-node degree in the SERVED graph — one src-keyed aggregate
    * (the base leg aggregates in place on the bucketed layout; the
    * delta leg is batch-sized). */
  def maxStoredDegree: Long = {
    val r = servingEdges
      .groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The re-bound pass: exact-rescore every stored edge, keep each
    * node's best k out-edges (restoring the degree invariant globally —
    * the accumulated reverse links must re-compete with the original
    * neighbors instead of stacking on top of them), run
    * `refineIterations` NN-Descent rounds over the cut graph to recover
    * neighbor-of-neighbor quality, re-union the deterministic backbone
    * (the k-cut ranks long-range links last and would sever exactly the
    * connectivity they exist for), and rewrite the bucketed store. The
    * refined DIRECTED graph (≤ k out-edges per node, exact rounded
    * dists) is returned for callers that track it; the store persists
    * its symmetrized+backboned form.
    *
    * This is the graph store's COMPACTION: active tombstones are
    * applied physically, and the fold manifest moves the fence to the
    * current seq with a fresh log generation, so the old logs are
    * never read again ([[LsmStore]] retention deletes them one commit
    * later).
    *
    * The refined frame is localCheckpoint-materialized BEFORE the store
    * rewrite — Spark refuses to overwrite a table still being read, and
    * every frame here descends from the stored table. */
  def refineNow(vectors: DataFrame): DataFrame = {
    val stored0 = servingEdges
    // Delete consolidation (FreshDiskANN §4.2): for every tombstoned
    // node d, bridge its in-neighbors to its out-neighbors (a→d, d→b ⇒
    // candidate a→b). Bridges enter TWICE, for two different jobs:
    // (1) as rescore candidates — in sparse regions a bridge is a
    // genuinely good edge and should win the top-k cut on price;
    // (2) degree-capped (best `maxReverseDegree` per node) AFTER the
    // cut, alongside the backbone — a corridor node's bridges are LONG
    // edges that always lose the cut to close neighbors, yet they are
    // exactly the connectivity its removal destroys (GraphDeleteSpec's
    // two-cluster corridor). Like backbone edges, the insurance set is
    // re-priced at the next refine. Tombstoned rows themselves drop
    // out in the va/vb inner joins (live vectors only), and the logs
    // are fenced off after the rewrite.
    val pending = tombstones.localCheckpoint()
    val hasDeletes = !pending.isEmpty
    val live =
      if (!hasDeletes) vectors
      else vectors.join(broadcast(pending),
        vectors(idCol) === pending("vec_id"), "left_anti")
    val va = live.select(col(idCol).as("src"), col(vecCol).as("va"))
    val vb = live.select(col(idCol).as("dst"), col(vecCol).as("vb"))
    def rescore(edges: DataFrame): DataFrame = edges
      .join(va, "src")
      .join(vb, "dst")
      .select(col("src"), col("dst"),
        round(metric.dist(col("va"), col("vb")), roundTo).as("dist"))
    val bridgesCapped =
      if (!hasDeletes) None
      else {
        val tn = broadcast(pending.select(col("vec_id").as("node")))
        val into = stored0.join(tn, stored0("dst") === tn("node"),
          "left_semi").select(col("src").as("a"), col("dst").as("d"))
        val outof = stored0.join(tn, stored0("src") === tn("node"),
          "left_semi").select(col("src").as("d"), col("dst").as("b"))
        val bridges = into.join(outof, "d")
          .where(col("a") =!= col("b"))
          .select(col("a").as("src"), col("b").as("dst"))
          .dropDuplicates("src", "dst")
        Some(TopK.perQueryTopK(
            rescore(bridges).select(col("src").as("query_id"),
              col("dst").as("vec_id"), col("dist")),
            maxReverseDegree)
          .select(col("query_id").as("src"), col("vec_id").as("dst"))
          .localCheckpoint())
      }
    val stored = bridgesCapped.fold(stored0.select(col("src"), col("dst"))) {
      br => stored0.select(col("src"), col("dst")).unionByName(br)
        .dropDuplicates("src", "dst")
    }
    val scored = rescore(stored)
    val cut = TopK.perQueryTopK(
        scored.select(col("src").as("query_id"), col("dst").as("vec_id"),
          col("dist")),
        k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("dist"))
    val refined = NnDescent.refine(cut, live, idCol, vecCol, k, metric,
        refineIterations, roundTo = roundTo)
      .localCheckpoint()
    val insurance = bridgesCapped.toSeq ++
      (if (backbone) Seq(GraphSearch.randomBackbone(live, idCol)) else Nil)
    val withBackbone =
      if (insurance.isEmpty) refined
      else insurance.foldLeft(refined.select(col("src"), col("dst")))(
        _.unionByName(_)).dropDuplicates("src", "dst")
    // Crash-safe commit (class doc): refined graph into the TEMP
    // table, marker published atomically AFTER it is complete, then
    // the idempotent destructive half — a crash at any point either
    // leaves the old table + logs intact (pre-marker) or is finished
    // by the next construction's recoverSwap.
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    GraphSearch.saveBucketed(withBackbone, s"${name}_swap", nBuckets)
    publishMarker(batches)
    finishSwap(batches)
    // maxStoredDegree is a full edge-table aggregate — only pay for it
    // when the log line is actually emitted
    if (log.isInfoEnabled) log.info(
      s"stored graph '$name' refined after $batches insert batches " +
        s"(max degree now $maxStoredDegree)")
    refined
  }

  /** Whether the LAST [[refineScopedNow]] ran its edge-table passes in
    * the bucket-pruned InSet form (region fit under [[scopePruneMax]]
    * through every hop) or fell back to the broadcast semi-join full
    * scans — observability for specs and probes; None before the first
    * scoped refine. */
  @volatile private[graft] var lastScopedPrune: Option[Boolean] = None

  /** The stored base table's on-disk size, RE-STATTED at each scoped
    * refine (one fs content-summary call — negligible next to a
    * refine, and a long-lived store that grows past the threshold
    * through folds and appends must switch forms without a process
    * restart) — the input to the prune-vs-scan size dispatch.
    * Unstatable (not yet saved, remote fs error) counts as
    * Long.MaxValue: at the scales where the dispatch matters, failing
    * toward pruning is the scan-safe side. */
  private def baseTableBytes: Long =
    try {
      val loc = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_edges"))
        .location
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** The TOUCHED-REGION refine — [[refineNow]]'s O(batch) form for the
    * scoped store ([[scopedRefine]] = true). [[refineNow]] rescores and
    * REWRITES the whole table every cadence: at 100 TB that is a full
    * O(n·k) rebuild to absorb a 20-row batch. This pass instead
    * re-bounds only the subgraph the window touched:
    *
    *   - **region** = arrivals + deletes since the last refine (the
    *     scope fence) + the dead nodes' IN-neighbors (one explicit
    *     reverse hop — OUT-hop expansion alone misses them on an
    *     asymmetric graph) + the degree-watermark offenders (when set),
    *     expanded [[scopeHops]] hops over the served graph — the nodes
    *     whose edge lists the window could have degraded (reverse-link
    *     accumulation lands within 1 hop of an insert; delete bridges
    *     within 1 hop of a tombstone);
    *   - region nodes' out-edges are exact-rescored together with the
    *     window's delete bridges (FreshDiskANN local consolidation —
    *     tombstoned nodes' in-neighbors bridge to their out-neighbors,
    *     capped), cut back to the best k, NN-Descent-refined on the
    *     REGION subgraph, and re-unioned with the region's slice of the
    *     deterministic backbone (hash-derived, so the rows match what a
    *     full refine would produce for those srcs);
    *   - the result commits through the LSM idiom, NOT a table rewrite:
    *     one `superseded` record per region node (tombstoned nodes get
    *     the record and NO replacement — their physical delete) plus
    *     the symmetrized replacement rows in `edges_delta`, all at one
    *     burned seq made visible atomically by one manifest publish.
    *     Reverse partners landing on non-region srcs are ADDITIVE
    *     (anti-joined against those srcs' current rows — no
    *     duplicates), and region srcs keep the return directions of
    *     untouched in-edges (what full-refine symmetrization would
    *     restore from the untouched side).
    *
    * Untouched subgraph rows are BYTE-IDENTICAL afterwards — nothing
    * outside the region is rewritten (GraphScopedRefineSpec pins it),
    * and both compute and write cost scale with the region, not the
    * corpus (measured in SCALE.md §Index lifecycle). READ cost is
    * region-scaled too when the region fits under [[scopePruneMax]]:
    * the region ids are collected (bounded) and every edge-table pass
    * — the hop expansions, the reverse-hop seed scan, the touched
    * slices — becomes an InSet filter the scan planner turns into
    * bucket pruning on the base table's `src` bucket column, so the
    * refine reads the region's buckets instead of the corpus
    * (GraphScopedPruneSpec pins plan + identity; past the cap it falls
    * back to the broadcast semi-join full-scan form). Pending
    * tombstones stay active as serving exclusions until the next FULL
    * refine drops the logs; their edges are already gone here, so the
    * remaining cost is one broadcast anti-join. */
  def refineScopedNow(vectors: DataFrame): DataFrame = {
    guardPoisoned()
    val seq = batches + 1
    // burned up front, like onBatch: a failed attempt's partial
    // supersede/replacement rows stay at a seq no retry reuses
    batches = seq
    val m = manifestFor(seq)
    val sf = scopeFence(m)
    // the served view feeds the reverse-hop seed scan, every hop
    // expansion, and both touched slices — checkpoint it lazily once
    // (the onBatch treatment: scoped mode's view is joins + log scans,
    // not a bare bucketed read); blocks released before returning
    val serving = servingEdges.localCheckpoint(eager = false)
    def releaseServing(): Unit = serving.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ =>
    }
    val arr = readOr(m.log("arrivals"), emptySeqIds).where(m.pred)
      .where(col("seq") > sf).select(col("vec_id").as("node"))
    val tombWindow = readOr(m.log("tombstones"), emptySeqIds).where(m.pred)
      .where(col("seq") > sf).select(col("vec_id").as("node"))
    val pending = tombstones.localCheckpoint(eager = false)
    val pendingNodes = pending.select(col("vec_id").as("node"))
    val offenders =
      if (degreeWatermark <= 0) arr.limit(0)
      else serving.groupBy("src").agg(count(lit(1)).as("d"))
        .where(col("d") > degreeWatermark).select(col("src").as("node"))
    // ---- bounded region-id collection for scan pruning ----
    // The region walk and the touched slices below are all filters on
    // the EDGE table; with the region ids in hand as a LITERAL set,
    // each `src` filter is an InSet on the base table's bucket column,
    // which the scan planner turns into bucket pruning
    // (SelectedBucketsCount < nBuckets — GraphScopedPruneSpec pins the
    // plan) plus a pushed parquet predicate on the delta leg: the
    // corpus-sized scans the region walk otherwise pays per hop read
    // only the buckets the region hashes into. The collect is BOUNDED
    // by construction (the region is O(window × k^scopeHops)) and
    // capped by `scopePruneMax` — past the cap, or mid-loop when a hop
    // outgrows it, the refine falls back to the broadcast semi-join
    // form (identical output, unpruned scans; identity is spec-pinned
    // both ways). `scopePruneMax = 0` disables collection entirely —
    // the onBatch rule that a log-derived id set must never become an
    // UNBOUNDED driver-side literal stays intact.
    // Size dispatch (the FilteredSearch idiom): pruning trades per-hop
    // bounded collects + InSet planning for scan bytes. Measured at 1M
    // (SCALE.md §Index lifecycle, same process, twin stores,
    // ~0.25 GB table): the page-cached full scans are FASTER than the
    // collect overhead (scoped refine 12.5 s vs 13.9 s at batch=100,
    // 17.1 s vs 22.3 s at 1k) — so below `scopePruneMinBytes` the
    // semi-join form binds, and above it the pruned reads bound I/O
    // (BeamPruneSpec/GraphScopedPruneSpec measure the bytes-read drop
    // directly). A table whose size cannot be statted counts as large:
    // at the scales where pruning matters, failing open is the
    // scan-safe side.
    val pruneActive = scopePruneMax > 0 && baseTableBytes >= scopePruneMinBytes
    def collectNodes(df: DataFrame): Option[Array[Long]] =
      if (!pruneActive) None
      else {
        // distinct BEFORE the cap: log-derived frames carry duplicate
        // rows (an id deleted in several batches of one window), and
        // counting those against the cap would spuriously force the
        // full-scan fallback. Cast to long so Int-id stores collect the
        // same way they join (the unpruned path is type-generic;
        // isInCollection coerces the column side back).
        val t = df.select(col("node").cast("long").as("node")).distinct()
          .limit(scopePruneMax + 1).collect()
        if (t.length > scopePruneMax) None else Some(t.map(_.getLong(0)))
      }
    def nodesDf(ids: Array[Long]): DataFrame = {
      import spark.implicits._
      spark.createDataset(ids.toIndexedSeq).toDF("node")
    }
    // the dead nodes' IN-neighbors, pulled in explicitly: the hop
    // expansion below walks OUT-edges, so on an asymmetric stored
    // graph a src u with u→d but no return d→u would escape the
    // region, keep its supersede-less rows, and serve an edge into the
    // dead node forever (the consolidation would never reach it). One
    // dst-keyed pass over the served view, window-dead-bounded — gated
    // on the window actually having deletes, so a delete-free refine
    // keeps the scopeHops + 2 edge-table scan count (dst is not the
    // bucket column, so the pruned form here is a pushed predicate,
    // not a bucket prune)
    val tombIds = collectNodes(tombWindow)
    val hasWindowDeletes = tombIds.fold(!tombWindow.isEmpty)(_.nonEmpty)
    val intoDead =
      if (!hasWindowDeletes) arr.limit(0)
      else tombIds match {
        case Some(ids) =>
          serving.where(col("dst").isInCollection(ids.toIndexedSeq))
            .select(col("src").as("node"))
        case None => serving
          .join(broadcast(tombWindow.select(col("node").as("dst"))),
            Seq("dst"), "left_semi")
          .select(col("src").as("node"))
      }
    var region = arr.unionByName(tombWindow).unionByName(intoDead)
      .unionByName(offenders)
      .distinct().localCheckpoint(eager = false)
    var regionIds = collectNodes(region)
    regionIds.foreach(ids => region = nodesDf(ids))
    val empty = vectors.limit(0)
      .select(col(idCol).as("src"), col(idCol).as("dst"),
        lit(0.0).as("dist"))
    if (regionIds.fold(region.isEmpty)(_.isEmpty)) {
      // observability must reflect THIS call: without this, a no-op
      // refine leaves the PREVIOUS refine's mode in lastScopedPrune and
      // probes attribute the empty-window call to the wrong path
      lastScopedPrune = Some(pruneActive && regionIds.isDefined)
      if (sf < seq) commit(m)(_.withInt("scope_fence", seq))
      releaseServing()
      return empty
    }
    def hopExpand(r: DataFrame): DataFrame = {
      val nbrs = serving
        .join(broadcast(r.select(col("node").as("src"))),
          Seq("src"), "left_semi")
        .select(col("dst").as("node"))
      r.unionByName(nbrs).distinct().localCheckpoint(eager = false)
    }
    for (_ <- 1 to scopeHops) {
      regionIds match {
        case Some(ids) =>
          // pruned hop: the frontier filter is an InSet on the bucket
          // column — the base leg reads only the region's buckets
          // (dst cast to long like collectNodes: Int-id stores must not
          // fail only in pruned mode)
          val nbrs = serving.where(col("src").isInCollection(ids.toIndexedSeq))
            .select(col("dst").cast("long")).distinct()
            .limit(scopePruneMax + 1).collect().map(_.getLong(0))
          if (nbrs.length > scopePruneMax) {
            // the hop's frontier outgrew the cap and the collect is
            // TRUNCATED — redo this hop in the semi-join form from the
            // (complete) prior region and stay there
            regionIds = None
            region = hopExpand(region)
          } else {
            val merged = (ids ++ nbrs).distinct
            region = nodesDf(merged)
            regionIds = if (merged.length > scopePruneMax) None
                        else Some(merged)
          }
        case None =>
          region = hopExpand(region)
      }
    }
    lastScopedPrune = Some(regionIds.isDefined)
    // replacement targets: live region nodes (tombstoned region nodes
    // are superseded with no replacement)
    val regionLive = region
      .join(broadcast(pendingNodes), Seq("node"), "left_anti")
      .localCheckpoint(eager = false)
    // ---- the region's edge slice, materialized ONCE ----
    // Everything below derives from rows TOUCHING the region, so the
    // corpus-sized edge table is read exactly scopeHops + 2 times per
    // delete-free refine (the hop expansions above + the two directed
    // slices here; a window WITH deletes pays one more for the
    // reverse-hop seed scan) instead of once per consumer; the slice
    // itself is region-bounded — and under the pruned form the src-side
    // reads are bucket-pruned, so "read" means the region's buckets,
    // not the corpus.
    val touched = (regionIds match {
      case Some(ids) =>
        val idSeq = ids.toIndexedSeq
        serving.where(col("src").isInCollection(idSeq))
          .unionByName(serving.where(col("dst").isInCollection(idSeq)))
      case None =>
        val rSrc = broadcast(region.select(col("node").as("src")))
        val rDst = broadcast(region.select(col("node").as("dst")))
        serving.join(rSrc, Seq("src"), "left_semi")
          .unionByName(serving.join(rDst, Seq("dst"), "left_semi"))
    }).dropDuplicates("src", "dst")
      .localCheckpoint(eager = false)
    // ---- the vector slice, materialized ONCE ----
    // every id the refine scores lives in the touched slice (both
    // endpoints) — one broadcast-filtered pass over the vector table
    // feeds every rescore AND the NN-Descent rounds (at 100 TB,
    // partition/bucket the vector table by id so this probe prunes)
    val needIds = touched.select(col("src").as("node"))
      .unionByName(touched.select(col("dst").as("node")))
      .unionByName(region).distinct()
    val vecsNeeded = vectors
      .join(broadcast(needIds), vectors(idCol) === col("node"), "left_semi")
      .join(broadcast(pending), vectors(idCol) === pending("vec_id"),
        "left_anti")
      .localCheckpoint(eager = false)
    val va = vecsNeeded.select(col(idCol).as("src"), col(vecCol).as("va"))
    val vb = vecsNeeded.select(col(idCol).as("dst"), col(vecCol).as("vb"))
    def rescore(edges: DataFrame): DataFrame =
      edges.select("src", "dst")
        .join(va, "src").join(vb, "dst")
        .select(col("src"), col("dst"),
          round(metric.dist(col("va"), col("vb")), roundTo).as("dist"))
    // window deletes, bridged locally (in-nbr → out-nbr, capped) — the
    // full refine's consolidation restricted to this window's dead
    val tombActive = tombWindow
      .join(broadcast(pendingNodes), Seq("node"), "left_semi")
    val hasDeletes = !tombActive.isEmpty
    val bridgesCapped =
      if (!hasDeletes) None
      else {
        val tn = broadcast(tombActive.select(col("node")))
        val into = touched.join(tn, touched("dst") === tn("node"),
          "left_semi").select(col("src").as("a"), col("dst").as("d"))
        val outof = touched.join(tn, touched("src") === tn("node"),
          "left_semi").select(col("src").as("d"), col("dst").as("b"))
        val bridges = into.join(outof, "d")
          .where(col("a") =!= col("b"))
          .select(col("a").as("src"), col("b").as("dst"))
          .dropDuplicates("src", "dst")
        Some(TopK.perQueryTopK(
            rescore(bridges).select(col("src").as("query_id"),
              col("dst").as("vec_id"), col("dist")),
            maxReverseDegree)
          .select(col("query_id").as("src"), col("vec_id").as("dst"))
          .localCheckpoint(eager = false))
      }
    val regionOut = touched
      .join(broadcast(regionLive.select(col("node").as("src"))),
        Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
    val candEdges = bridgesCapped.fold(regionOut) { br =>
      regionOut.unionByName(br).dropDuplicates("src", "dst")
    }
    val cut = TopK.perQueryTopK(
        rescore(candEdges).select(col("src").as("query_id"),
          col("dst").as("vec_id"), col("dist")),
        k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("dist"))
    val refined = NnDescent.refine(cut, vecsNeeded, idCol, vecCol, k,
        metric, refineIterations, roundTo = roundTo)
      .localCheckpoint(eager = false)
    // backbone slice: the dense-id fast path over the FULL id space is
    // a pure projection (no rank, no sort); dead targets are dropped.
    // A full refine over post-delete ids would hash different jumps —
    // the scoped slice keeps the pre-delete jump structure, which is
    // fine: the backbone is connectivity insurance, re-priced at the
    // next full refine.
    val backboneR =
      if (!backbone) refined.select(col("src"), col("dst")).limit(0)
      else GraphSearch.randomBackbone(vectors, idCol)
        .join(broadcast(regionLive.select(col("node").as("src"))),
          Seq("src"), "left_semi")
        .join(broadcast(pendingNodes.select(col("node").as("dst"))),
          Seq("dst"), "left_anti")
    val withIns = refined.select(col("src"), col("dst"))
      .unionByName(bridgesCapped.toSeq.foldLeft(backboneR)(_ unionByName _))
      .dropDuplicates("src", "dst")
    val sym = withIns
      .unionByName(withIns.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
    val supSrcs = broadcast(region.select(col("node").as("src")))
    val replacement = sym.join(supSrcs, Seq("src"), "left_semi")
    // reverse partners on non-region srcs are additive — only rows
    // those srcs don't already serve land, keeping the view dup-free.
    // Every additive row's dst is a region node (it is a reversed
    // region edge), so the dedup reference is inside the touched slice.
    val additiveRaw = sym.join(supSrcs, Seq("src"), "left_anti")
    val additive = additiveRaw
      .join(touched.select("src", "dst"), Seq("src", "dst"), "left_anti")
    // region srcs keep the return direction of in-edges from UNTOUCHED
    // srcs (full-refine symmetrization restores exactly these from the
    // untouched side's surviving rows)
    val untouchedInto = touched
      .join(broadcast(regionLive.select(col("node").as("dst"))),
        Seq("dst"), "left_semi")
      .join(supSrcs, Seq("src"), "left_anti")
      .join(broadcast(pendingNodes.select(col("node").as("src"))),
        Seq("src"), "left_anti")
      .select(col("dst").as("src"), col("src").as("dst"))
    val out = replacement.unionByName(untouchedInto)
      .dropDuplicates("src", "dst")
      .unionByName(additive)
      .withColumn("seq", lit(seq))
      .localCheckpoint(eager = false)
    // disjoint-directory appends, invisible until the commit —
    // concurrent like onBatch's log writes (the `out` checkpoint
    // materializes inside its own write job; `region` is already
    // collected/checkpointed)
    graft.ann.ParallelFit.run(2) {
      case 0 => region.select(col("node").as("src"), lit(seq).as("seq"))
        .write.mode("append").parquet(m.log("superseded"))
      case 1 => out.write.mode("append").parquet(m.log("edges_delta"))
    }
    // one manifest makes supersede + replacement visible and moves the
    // scope fence ATOMICALLY — a crash above leaves both halves
    // invisible and the burned seq dead
    commit(m)(_.committed(seq).withInt("scope_fence", seq))
    // the writes above materialized every frame derived from the view
    // (truncated-lineage blocks spill, never recompute) — safe to drop
    releaseServing()
    if (log.isInfoEnabled) log.info(
      s"stored graph '$name' scope-refined through seq $seq")
    refined
  }

  /** True when the NEXT [[onBatch]] will run the scheduled log fold
    * ([[foldNow]]) — the compaction twin of [[refineDue]] (and of the
    * sibling maintainers' `compactionDue`), exposed so callers can
    * align checkpoints around the one batch per `compactEvery` that
    * rewrites the base. A due fold always brings a scoped refine with
    * it (scheduled or early — the consolidate-first ordering
    * contract), so the burned-seq arithmetic is the same either way:
    * the batch takes one seq and the refine a second, and the fold
    * check sees `batches + 2`. */
  def foldDue: Boolean =
    scopedRefine && compactEvery > 0 &&
      compactionDueAt(batches + 2, compactEvery)

  /** The scoped store's COMPACTION — the log fold [[refineNow]]
    * performs as a side effect, without the O(n·k) re-score/re-cut: the
    * current served view ([[servingEdges]], minus rows touching an
    * ACTIVE tombstone — their physical delete) is rewritten as the
    * bucketed base through the same crash-safe swap protocol the full
    * refine uses (temp table → `_graph_swap` marker → idempotent
    * [[finishSwap]]: rename, then the fold manifest — fence at the
    * current seq, a fresh log generation). Cost is one pass over the served view
    * plus the bucketed rewrite — no vector reads, no distance math.
    *
    * The served view is preserved EXACTLY (GraphScopedFoldSpec pins
    * fold == served-view identity): rows land as-is — NOT re-
    * symmetrized, because a scoped refine legitimately leaves the view
    * asymmetric at the region boundary and a fold must not invent
    * return edges the refine cut.
    *
    * Ordering contract: run AFTER a refine has consolidated the
    * window's deletes (the scheduled path in [[onBatch]] folds right
    * after the due scoped refine). Folding with unconsolidated deletes
    * pending drops the dead nodes' edges without the FreshDiskANN
    * bridges — connectivity the region refine would have preserved. */
  def foldNow(): Unit = {
    val pending = tombstones.localCheckpoint()
    // materialized BEFORE the swap: the lineage reads the stored table
    // and the logs, which finishSwap rewrites and supersedes
    val folded = servingEdges
      .join(broadcast(pending.select(col("vec_id").as("src"))),
        Seq("src"), "left_anti")
      .join(broadcast(pending.select(col("vec_id").as("dst"))),
        Seq("dst"), "left_anti")
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    folded.write.mode("overwrite")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(tmpTable)
    publishMarker(batches)
    finishSwap(batches)
    if (log.isInfoEnabled) log.info(
      s"stored graph '$name' folded its logs into the base at seq " +
        s"$batches (scoped-store compaction)")
  }
}

object GraphMaintainer {
  /** Default scoped-store fold cadence in BATCHES since the last fold
    * (the fence), checked right after each scheduled scoped refine —
    * the [[LsmStore.DefaultCompactEvery]] treatment applied to the
    * graph store, read off the measured serve-latency-vs-log-depth
    * curve (200k × 64-d, SCALE.md §Index lifecycle): beam serves
    * degrade gently but monotonically with unfolded batches (6.1 s at
    * depth 0 → 7.3 s at 16 → 8.0 s at 32 → 8.2 s at 64; the folded
    * store serves the same set at 5.4 s), so the walk compute hides
    * the per-leg log overhead better than the flat-scan stores but
    * never recovers it. 32 matches the sibling stores' cadence with
    * the serve tax bounded under ~1.5× folded; the fold itself is
    * rescore-free (9.1 s at 200k — one served-view pass + the bucketed
    * rewrite, ~0.3 s/batch amortized), far under the full refine it
    * replaces. */
  val DefaultFoldEvery: Int = LsmStore.DefaultCompactEvery

  /** Cap on the scoped-refine region id set collected to the driver
    * for scan pruning (ids as an InSet on the edge table's bucket
    * column → bucket-pruned hop expansions and slices instead of
    * corpus scans). The cap bounds three costs at once: driver memory
    * (50k longs ≈ 400 KB), the InSet literal shipped with each task,
    * and Catalyst's planning time over the literal list. A region past
    * the cap falls back to the broadcast semi-join form — correctness
    * is identical either way (GraphScopedPruneSpec), only the scan
    * shape changes. Typical regions sit far below it: a 1k-row batch
    * window at k = 16, scopeHops = 1 reaches ~17k nodes. */
  val DefaultScopePruneMax: Int = 50000

  /** Minimum stored-table size before the scoped refine switches to
    * the pruned-scan form — the prune-vs-scan dispatch threshold.
    * Pruning costs a few bounded driver collects + InSet planning per
    * refine (measured ~1.4-5 s at 1M, SCALE.md §Index lifecycle)
    * and saves scan BYTES (scopeHops + 2 table passes per refine).
    * On a ~0.25 GB page-cached local table the scans cost less than
    * the collects, so the semi-join form wins (12.5 s vs 13.9 s at
    * batch=100); the crossover is where those passes stop being free:
    * at ~2 GB/s effective local read, (scopeHops + 2) × 8 GiB ≈ 12 s
    * of scan per refine — comfortably past the measured overhead, and
    * on remote/object storage the crossover comes far earlier. 8 GiB
    * keeps gate-scale and single-node stores on the measured-faster
    * path while any store big enough to care about scan cost prunes.
    *
    * Geometry caveat (why size is necessary but not sufficient):
    * hash-bucketing leaves a bucket untouched with probability
    * (1 - 1/nBuckets)^region, so the file skip is real only while the
    * region is small relative to the bucket count — size `nBuckets`
    * at save time for the store's scale (a 100 TB store wants
    * thousands of buckets, not the 64 default). Past that the InSet
    * degenerates to a pushed row filter: correct, scan-shaped, and
    * what the fallback would do anyway. */
  val DefaultScopePruneMinBytes: Long = 8L << 30
}
