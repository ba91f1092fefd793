package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{CodesMaintainer, GraphMaintainer}
import graft.ann.lsh.LshMaintainer
import graft.retrieval.PostingsStore
import graft.text.DedupGate

/** The COMPOSED ingestion lifecycle — one arrivals micro-batch flowing
  * through every maintained store from the same `foreachBatch` body,
  * the shape a 100 TB deployment actually runs (each store's
  * maintenance loop is certified in isolation elsewhere; this is the
  * one-batch, one-decision composition):
  *
  *   1. [[graft.text.DedupGate]] decides the ADMITTED set once
  *      (near-dup arrivals rejected against the stored band index and
  *      within the batch, min-id canonical);
  *   2. [[graft.retrieval.PostingsStore]] appends the admitted docs'
  *      postings (doc_id, toks);
  *   3. [[graft.ann.CodesMaintainer]] encodes + appends the admitted
  *      embeddings through its frozen model;
  *   4. [[graft.ann.lsh.LshMaintainer]] (optional fifth leg) hashes
  *      the admitted vectors through its frozen forest into the
  *      serving LSH store — the index the hybrid-retrieval shape
  *      (`q_hybrid_rrf_indexed`) reads vector candidates from, so a
  *      deployment serving hybrid retrieval maintains it on the SAME
  *      admitted set in the same batch;
  *   5. [[graft.ann.lsh.LabeledLshMaintainer]] (optional sixth leg)
  *      lands the admitted vectors, each row carrying its labels, in
  *      the stored labeled index — the constrained-serving store
  *      (`searchAllLabeled`) maintained on the same admitted set,
  *      its centroid-sidecar refresh riding its compaction cadence;
  *   6. [[graft.ann.GraphMaintainer]] beam-inserts the admitted
  *      vectors into the serving graph.
  *
  * Deletes fan out to every store in the same batch. The consistency cut:
  * every store sees exactly the same admitted set (the gate's decision
  * is materialized once and shared — a store can never ingest a doc
  * another store rejected), and each store's batch is individually
  * atomic (one LSM manifest publish). Cross-store atomicity is BY
  * REPLAY, not by transaction: the store legs run concurrently, so a
  * crash mid-batch leaves an ARBITRARY SUBSET of the legs committed
  * (any k of the n stores, not a prefix); the stream checkpoint
  * replays the batch and every store treats the re-arrival as an
  * UPSERT — the gate never pairs a doc against its own id (and its
  * compaction collapses replay-duplicated band rows), the pipeline
  * rides every admitted id as a same-batch delete into postings/codes
  * (the LSM rule: a tombstone kills strictly earlier rows, so fresh
  * arrivals are untouched and replays supersede instead of
  * duplicating), and the graph's insert path anti-joins the delta
  * against rows it would duplicate — so the composed end state
  * converges (pinned jointly by StreamingIngestPipelineSpec,
  * including a replayed-batch case).
  *
  * Schema contract: `arrivals` carries (`idCol`, `textCol`, `toksCol`,
  * `vecCol`), plus `labelCol` when the labeled leg is configured —
  * ONE row per doc (the pipeline-wide contract: a duplicated id
  * within a batch would land same-seq duplicate rows in the flat
  * stores, which the strictly-earlier tombstone rule cannot
  * collapse). Multi-label docs therefore ride the pipeline with one
  * PRIMARY label; extra labels go to the labeled maintainer directly
  * ([[graft.ann.lsh.LabeledLshMaintainer.onBatch]] accepts one row
  * per label and groups them into one row per vector). The graph
  * maintainer must be constructed with
  * idCol = "vec_id" over `vecCol`; the codes/forest legs receive the
  * CANONICAL (vec_id, embedding) schema regardless of `vecCol` (their
  * internals hard-code the names), so a CodesMaintainer used here
  * must encode (vec_id, embedding) rows; `deletes` carries (`idCol`).
  *
  * `vectors` is the LIVE corpus view plus this batch's arrivals
  * (vec_id, `vecCol`) — the graph's scoring AND refine basis, so it
  * must NOT carry ids rejected in EARLIER batches (a scheduled refine
  * treats vectors ∖ tombstones as the corpus and would backbone a
  * rejected id back in). The natural construction satisfies this for
  * free: base corpus ∪ each prior batch's `report.admittedRows` ∪ the
  * current batch's arrivals — the pipeline itself strips the CURRENT
  * batch's rejections before the graph call (the caller cannot know
  * them yet), and prior batches' rejections never entered the union.
  * StreamingIngestPipelineSpec models exactly this construction.
  *
  * `entriesFor` maps the admitted (vec_id, `vecCol`) rows to the
  * walk's per-query entry set (query_id, node) — fixed ids or
  * coarse-index seeds.
  */
final class IngestPipeline(
    gate: DedupGate,
    postings: PostingsStore,
    codes: CodesMaintainer,
    graph: GraphMaintainer,
    entriesFor: DataFrame => DataFrame,
    idCol: String = "doc_id",
    textCol: String = "text",
    toksCol: String = "toks",
    vecCol: String = "embedding",
    lsh: Option[LshMaintainer] = None,
    labeledLsh: Option[graft.ann.lsh.LabeledLshMaintainer] = None,
    labelCol: String = "label") {

  /** One composed maintenance step — safe as a `foreachBatch` body
    * (driver-side state is each store's one Int; everything heavy is
    * DataFrame jobs). Returns the batch report; `report.admitted` is
    * materialized, so reading it later cannot replay the gate. */
  def onBatch(arrivals: DataFrame, vectors: DataFrame,
              deletes: Option[DataFrame] = None): IngestPipeline.Report = {
    val delIds = deletes.map(_.select(col(idCol)))
    val res = gate.onBatch(arrivals, delIds)
    // the one consistency cut: the admitted set is decided ONCE,
    // materialized, and every downstream store ingests exactly it
    val admitted = res.admitted.localCheckpoint()
    val admittedVecs = admitted
      .select(col(idCol).as("vec_id"), col(vecCol))
    // every admitted id rides as a SAME-BATCH delete alongside its
    // arrival — the LSM upsert rule (a tombstone kills strictly
    // EARLIER rows only), so fresh arrivals are untouched while a
    // re-arrival of a known id supersedes its old rows instead of
    // duplicating them. This is what makes the at-least-once replay
    // contract true for the flat stores: without it, a replayed batch
    // would re-APPEND its postings/code rows and double-serve them
    // (the gate never self-pairs an id, and the graph insert
    // anti-joins its delta — the flat stores were the gap).
    val admittedIds = admitted.select(col(idCol)).localCheckpoint()
    val upserts = delIds.fold(admittedIds)(d =>
      d.unionByName(admittedIds).distinct())
    // the vector-keyed FLAT stores (codes, LSH forest) receive the
    // canonical (vec_id, embedding) schema regardless of the caller's
    // vecCol: their internals hard-code the names (LshMaintainer's
    // store layout; DriftCheck/VectorStats' drift aggregate reads
    // col("embedding")), and a custom-vecCol pipeline must not die
    // AFTER earlier stores committed their batch. Only the graph leg
    // keeps vecCol naming — its maintainer takes the column as a
    // constructor param. Contract note: a CodesMaintainer used in this
    // pipeline must therefore encode (vec_id, embedding) rows.
    val canonicalVecs = admitted.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"))
    // the graph's vectors view is its LIVE basis (a scheduled refine
    // treats vectors ∖ tombstones as the corpus — backbone edges are
    // built for every row), so rejected arrivals must not ride along:
    // a rejected id in `vectors` would re-enter the graph at the next
    // refine even though no store admitted it. Bounded anti-join — the
    // rejection set is batch-sized.
    val graphVectors = vectors.join(
      broadcast(res.rejected.select(col("doc_id").as("vec_id"))),
      Seq("vec_id"), "left_anti")
    // entry sets materialized BEFORE the concurrent fan-out: the class
    // doc allows `entriesFor` to be coarse-index seeds, and such an
    // implementation reads a maintained store — evaluated lazily inside
    // the graph leg it would race the LSH legs' appends/compaction
    // (nondeterministic entry sets, possible reads of files compaction
    // deletes). The checkpoint pins PRE-BATCH semantics: entries are
    // derived from the stores as they stood when the batch arrived,
    // which is also what the sequential-leg pipeline computed.
    val entries = entriesFor(admittedVecs).localCheckpoint()
    // Every leg below ingests the SAME materialized admitted set into
    // ITS OWN store, so the legs are independent — run them as
    // concurrent Spark jobs (guide §2.6: actions are only sequential
    // because driver code calls them sequentially; the graph leg's
    // walk+refine dominates the batch, and the flat stores' appends
    // now ride under it instead of after it). Cross-store atomicity
    // was ALREADY by replay, not by ordering (class doc): a crash with
    // k of the legs committed replays the batch and every store treats
    // the re-arrival as an upsert, whichever k it was.
    //
    // - the serving LSH forest and the labeled store ride the same
    //   admitted set + upsert-delete rule as the other flat stores
    //   (tombstones kill strictly-earlier rows only, so replays
    //   supersede and fresh arrivals are untouched);
    // - `arrivals` must carry `labelCol` when the labeled leg is
    //   configured (multi-label docs as one row per label — the
    //   maintainer's per-batch dedup collapses the vector row); its
    //   sidecar refresh rides ITS compaction cadence.
    val arrivedCount = new java.util.concurrent.atomic.AtomicLong()
    graft.ann.ParallelFit.run(6) {
      case 0 => postings.onBatch(
        Some(admitted.select(col(idCol).as("doc_id"), col(toksCol))),
        Some(upserts.select(col(idCol).as("doc_id"))))
      case 1 => codes.onBatch(Some(canonicalVecs),
        Some(upserts.select(col(idCol).as("vec_id"))))
      case 2 => lsh.foreach(_.onBatch(Some(canonicalVecs),
        Some(upserts.select(col(idCol).as("vec_id")))))
      case 3 => labeledLsh.foreach(_.onBatch(
        Some(admitted.select(col(idCol).as("vec_id"),
          col(vecCol).as("embedding"), col(labelCol).as("label"))),
        Some(upserts.select(col(idCol).as("vec_id")))))
      case 4 => graph.onBatch(graphVectors, admittedVecs, entries,
        delIds.map(_.select(col(idCol).as("vec_id"))))
      case 5 => arrivedCount.set(arrivals.count())
    }
    IngestPipeline.Report(
      arrived = arrivedCount.get(),
      admitted = admitted.count(),
      rejected = res.rejected,
      admittedRows = admitted)
  }
}

object IngestPipeline {
  /** One composed batch's outcome: counts plus the materialized
    * admitted rows and the gate's (doc_id, cluster_id) rejections. */
  final case class Report(arrived: Long, admitted: Long,
                          rejected: DataFrame, admittedRows: DataFrame)
}
