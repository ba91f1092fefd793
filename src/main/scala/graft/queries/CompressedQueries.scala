package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.ExactNN
import graft.ann.ivf.{Ivf, IvfConfig}
import graft.eval.Eval

/** The compressed/coarse index families' driver-contract queries —
  * IVF, SQ, BQ, PQ/OPQ and the IVF-SQ/IVF-PQ/IVF-OPQ composites:
  * builds, searches (both metrics, filtered, deleted, distributed-fit
  * paths), recalls, the codes-store lifecycle (upsert / drift-refit),
  * and the family tuning sweeps. Split out of [[SimilarityQueries]]
  * round 15 (pure moves — same keys, same oracle SQL); shared
  * primitives stay in [[SimilarityQueries]] and are aliased below.
  */
object CompressedQueries extends QueryPack {

  // shared-primitive aliases (see GraphQueries' note)
  private def K: Int = SimilarityQueries.K
  private def emb(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.emb(s, dir)
  private def queriesDf(e: DataFrame): DataFrame =
    SimilarityQueries.queriesDf(e)
  private def exactGtL2(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.exactGtL2(s, dir)
  private def exactGtCos(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.exactGtCos(s, dir)
  private def InsertTailCount: Long = GraphQueries.InsertTailCount
  private def InsertFrom: Long = GraphQueries.InsertFrom


  /** One IVF config for every query here, so `q_ivf_cell_stats`'s
    * dump-and-check gates the same index the searches use. */
  val ivfConfig: IvfConfig = IvfConfig(nCells = 16, nProbe = 8, seed = 42L)

  /** `q_autotune_ivf_nprobe`'s sweep: ascending nProbe arms (each a
    * pure search-time re-tune, [[graft.ann.ivf.IvfIndex.withNProbe]])
    * and the recall target the chosen arm must meet. */
  val AutoTuneArms: Seq[Int] = Seq(1, 2, 4, 8, 16)
  val AutoTuneTarget = 0.95

  /** Angular twin: cells cluster the unit sphere, probes/assignment
    * normalize first (cosine ranking == L2 ranking on normalized
    * vectors — the reference's angular coupling, lsh/hasher.go:121-132). */
  val ivfAngularConfig: IvfConfig = ivfConfig.copy(angular = true)

  /** `q_ivf_search_l2_distfit`'s config: driverFitMaxSample = 1 forces
    * the distributed k-means|| coarse fit (Ivf.fitCentroidsDistributed
    * — the past-driver-bound scale path) at gate scale, so BOTH fit
    * paths sit under the driver's cross-engine correctness gate, not
    * only under DistributedFitSpec. The dispatch is deterministic
    * (total > driverFitMaxSample), pinned by DistributedFitSpec's
    * board-config test. */
  val ivfDistFitConfig: IvfConfig = ivfConfig.copy(driverFitMaxSample = 1)

  /** IVF-PQ: same coarse geometry as [[ivfConfig]], same code budget as
    * `q_pq_recall`'s PqConfig — so the two recall queries isolate exactly
    * the residual-encoding + cell-pruning delta. */
  val ivfPqConfig: graft.ann.ivfpq.IvfPqConfig = graft.ann.ivfpq.IvfPqConfig(
    nCells = 16, nProbe = 8, numSubvectors = 16, codesPerSubvector = 16,
    seed = 42L)

  /** `q_ivfpq_search_l2_distfit`'s config: a driverFitMaxSample below
    * the gate-scale corpus forces [[graft.ann.ivfpq.IvfPq]]'s
    * distributed-coarse path — k-means|| cells over the full sample
    * plus the driver-BOUNDED residual-codebook sub-sample — so the
    * flagship compressed family's 100 TB fit path sits under the
    * driver's cross-engine gate like IVF's (q_ivf_search_l2_distfit).
    * 200 rather than the IVF row's 1: codebooks are per-subvector
    * means that need a non-degenerate sample, while the IVF row has no
    * codebook to feed. The dispatch stays deterministic
    * (corpus > driverFitMaxSample at sf0.01's 500 rows). */
  val ivfPqDistFitConfig: graft.ann.ivfpq.IvfPqConfig =
    ivfPqConfig.copy(driverFitMaxSample = 200)

  /** Where `q_ivf_cell_stats` dumps the (vec_id, cell) assignment so its
    * DuckDB oracle can check the index BUILD cross-engine: Σ per-cell
    * counts must equal `count(*) FROM embeddings` (every vector assigned
    * exactly one cell) and the number of occupied cells must be ≤ nCells
    * — mirroring `q_lsh_bucket_stats` (LshQueries.BucketDumpRoot).
    * Root is `-Dgraft.dump.root`-configurable. */
  def CellDumpRoot: String = s"${QueryPack.dumpRoot}/graft_ivf_cell_dump"

  /** Where `q_ivfpq_code_stats` dumps the (vec_id, cell, codes) table so
    * its DuckDB oracle can check the IVF-PQ BUILD cross-engine (same
    * contract as [[CellDumpRoot]], plus a codes-length invariant). */
  def CodeDumpRoot: String = s"${QueryPack.dumpRoot}/graft_ivfpq_code_dump"

  /** `q_ivfsq_codes`' dump of the IVF-SQ (vec_id, cell, codes) table.
    * Unlike the IVF-PQ dump, the SQ codes themselves are deterministic
    * and sample-free, so the oracle re-ENCODES every vector from the raw
    * embeddings and checks a per-cell weighted code sum — a wrong code
    * anywhere in a cell breaks that cell's row. */
  def IvfSqCodeDumpRoot: String = s"${QueryPack.dumpRoot}/graft_ivfsq_code_dump"

  /** Plain-PQ / OPQ code budget shared by `q_pq_recall` and
    * `q_opq_recall` (matches [[ivfPqConfig]]'s subquantizers, so the
    * three recall rows isolate residual-encoding and rotation deltas
    * one axis at a time). */
  val pqConfig: graft.ann.pq.PqConfig = graft.ann.pq.PqConfig(
    numSubvectors = 16, codesPerSubvector = 16, seed = 42L)

  /** IVF-SQ: same coarse geometry as [[ivfConfig]], SQ8 codes. */
  val ivfSqConfig: graft.ann.ivfsq.IvfSqConfig =
    graft.ann.ivfsq.IvfSqConfig(nCells = 16, nProbe = 8, seed = 42L)

  /** `q_ivfsq_search_l2_distfit`'s config: driverFitMaxSample = 1
    * forces the k-means|| coarse fit (IvfSq.fit delegates to Ivf.fit's
    * dispatch; the SQ bounds fit is an exact distributed aggregation
    * either way, so unlike IVF-PQ there is no driver sub-sample to
    * keep healthy) — the third compressed family's scale fit path
    * under the driver gate. */
  val ivfSqDistFitConfig: graft.ann.ivfsq.IvfSqConfig =
    ivfSqConfig.copy(driverFitMaxSample = 1)

  // The graph family's deterministic shared builds go through
  // QueryPack.memoized: five queries (k-NN graph via LSH, NN-Descent,
  // beam search, seeded beam, online insert) plus the two exact-graph
  // consumers each rebuilt near-identical seed-fixed structures per
  // run — ~45 s of a 143 s board spent on redundant builds (round-9
  // plan audit). Each query still writes its own private dump path,
  // keeping the oracle-replay contract intact.

  /** Shared default-config index fits (the same sharing pattern as the
    * graph builds): each family's default index was trained identically
    * by 3-6 queries per run; the fits are deterministic (seeded k-means
    * / exact bounds) and dump-free, so sharing deletes the redundant
    * fit jobs — the k-means families pay `iters` driver-coordinated agg
    * jobs per fit — without changing any output. Angular variants are
    * memoized too (round 13): a single consumer per VERIFY run, but the
    * bench runs every query twice and was paying each angular fit on
    * both attempts — sharing makes the cosine rows report serve cost
    * like their L2 twins, output unchanged. */
  private[queries] def ivfIdx(s: SparkSession, dir: String): graft.ann.ivf.IvfIndex =
    memoized(s, dir, "ivf_idx") {
      Ivf.train(emb(s, dir), "vec_id", "embedding", ivfConfig)
    }
  private def ivfPqIdx(s: SparkSession,
                       dir: String): graft.ann.ivfpq.IvfPqIndex =
    memoized(s, dir, "ivfpq_idx") {
      graft.ann.ivfpq.IvfPq.train(emb(s, dir), "vec_id", "embedding",
        ivfPqConfig)
    }
  private def ivfSqIdx(s: SparkSession,
                       dir: String): graft.ann.ivfsq.IvfSqIndex =
    memoized(s, dir, "ivfsq_idx") {
      graft.ann.ivfsq.IvfSq.train(emb(s, dir), "vec_id", "embedding",
        ivfSqConfig)
    }
  /** Shared plain-PQ fit (16x16, the `q_pq_recall` budget) — consumed
    * by `q_pq_recall` and as `q_opq_recall`'s unrotated baseline. */
  private def pqIdx(s: SparkSession, dir: String): graft.ann.pq.PqIndex =
    memoized(s, dir, "pq_idx") {
      graft.ann.pq.Pq.train(emb(s, dir), "vec_id", "embedding", pqConfig)
    }

  /** OPQ twin at the same budget (deterministic multi-start fit — the
    * costliest driver-side fit on the board, ~4 s at sf0.1, so the
    * build shares like every other family; dumps stay query-private). */
  private def opqIdx(s: SparkSession, dir: String): graft.ann.pq.OpqIndex =
    memoized(s, dir, "opq_idx") {
      graft.ann.pq.Opq.train(emb(s, dir), "vec_id", "embedding", pqConfig)
    }

  private def sqIdx(s: SparkSession, dir: String): graft.ann.sq.SqIndex =
    memoized(s, dir, "sq_idx") {
      graft.ann.sq.Sq.train(emb(s, dir), "vec_id", "embedding")
    }

  /** IVF-OPQ at the shared budgets — the faiss "OPQ,IVF,PQ" deployment
    * shape (`q_ivfopq_recall` sits beside `q_ivfpq_recall`, isolating
    * exactly the rotation's candidate-generation delta). Reuses the
    * memoized OPQ rotation: [[graft.ann.pq.Opq.train]] and
    * [[graft.ann.ivfpq.IvfOpq.train]] fit the identical rotation (same
    * sample, same PqConfig, same iters/inits defaults), so the board
    * pays ONE multi-start OPQ fit — the costliest driver-side fit.
    * The dependency is resolved BEFORE the memo lambda (nested
    * computeIfAbsent on the shared memo map is unsupported). */
  private def ivfOpqIdx(s: SparkSession,
                        dir: String): graft.ann.ivfpq.IvfOpqIndex = {
    val rot = opqIdx(s, dir).model.rotation
    memoized(s, dir, "ivfopq_idx") {
      val e = emb(s, dir)
      val rotated = e.select(col("vec_id"),
        graft.ann.pq.Opq.rotateCol(rot, col("embedding")).as("embedding"))
      new graft.ann.ivfpq.IvfOpqIndex(rot,
        graft.ann.ivfpq.IvfPq.train(rotated, "vec_id", "embedding",
          ivfPqConfig))
    }
  }
  private def bqIdx(s: SparkSession, dir: String): graft.ann.bq.BqIndex =
    memoized(s, dir, "bq_idx") {
      graft.ann.bq.Bq.train(emb(s, dir), "vec_id", "embedding")
    }

  /** `q_sq_upsert_codes`' deterministic lifecycle script: ids ≡
    * UpsertDeadRem (mod UpsertMod) are tombstoned, ids ≡ UpsertUpdRem
    * take the embedding of (vec_id × UpsertSrcMul) mod corpus-size —
    * all rule-derived, so DuckDB replays delete + frozen-bounds
    * re-encode cross-engine. */
  val UpsertMod = 97L
  val UpsertDeadRem = 5L
  val UpsertUpdRem = 3L
  val UpsertSrcMul = 31L

  /** `q_sq_refit_codes`' drift script (sf0.01-pins in the oracle SQL
    * follow the [[GraphQueries.InsertFrom]] convention): the last
    * [[InsertTailCount]] ids arrive with every component shifted
    * +[[RefitShift]] (~10 fit-MADs on the synthetic embeddings — a
    * real distribution move, far over DriftCheck's 0.5 default), and
    * base ids ≡ 0 (mod [[RefitDeadMod]]) are deleted in the same
    * batch. Both rules are DuckDB-replayable, so the oracle re-derives
    * the live corpus, re-fits the bounds, and re-encodes it. */
  val RefitShift = 1.0
  val RefitDeadMod = 41L

  /** `q_autotune_bq_depth`'s Hamming-depth arms (ascending cost) —
    * fractions of the sf0.01 corpus (500), since 1 bit/dim orders only
    * coarsely and the trustable depth scales with corpus size. */
  val BqDepthArms: Seq[Int] = Seq(25, 50, 100, 250)

  /** Hamming-scan depth for the BQ rerank queries — the SWEPT default:
    * `q_autotune_bq_depth` grades the [[BqDepthArms]] against exact GT
    * and 250 is the cheapest arm meeting the [[AutoTuneTarget]] recall
    * at the gate scale (the shallower arms top out below it — 1 bit/dim
    * Hamming ordering is coarse enough on this corpus that half of it
    * must be re-ranked). Previously a hand-set constant; now the board
    * replays the decision cross-engine every round, so a corpus change
    * that shifts the depth floor shows up as a changed `chosen` row. */
  val BqRerankDepth = 250

  /** `q_autotune_sq_depth`'s rerank-depth arms (ascending cost) —
    * starting AT k itself: 8-bit scalar quantization ranks nearly
    * exactly on 64-d data, so unlike the BQ arms (corpus fractions)
    * the interesting question is whether any depth beyond k buys
    * recall at all. */
  val SqDepthArms: Seq[Int] = Seq(10, 15, 25, 50)

  /** Rerank depth the SQ serving queries (q_sq_search_l2 /
    * q_sq_recall) use — the SWEPT default: `q_autotune_sq_depth`
    * grades [[SqDepthArms]] against exact GT and 10 (= k: the
    * quantized candidate set re-ranked but not widened) is the
    * cheapest arm meeting the [[AutoTuneTarget]] recall at the gate
    * scale — the 255-level scan orders so nearly exactly that depth
    * floors at k, which is the claim sweepSqRerankDepth's Scaladoc
    * made and the board now replays cross-engine every round. */
  val SqRerankDepth = 10

  /** `q_sq_recall`'s rerank-leg depth — deliberately NOT
    * [[SqRerankDepth]]: at the swept serving depth (= k) the rerank
    * set is exactly the quantized top-k re-priced, so ADC-vs-rerank
    * recall would compare a set to itself and the row would stop
    * measuring rerank lift. The recall row keeps a deeper DIAGNOSTIC
    * arm (the lift ceiling the sweep's last arm certifies) while the
    * serving row (`q_sq_search_l2`) runs the swept deployment shape. */
  val SqRecallProbeDepth = 50

  /** DuckDB re-derivation of the BQ model + packed codes (64 bits/word
    * — the true-packing at-rest default, midrange thresholds) — shared
    * CTE prefix of all four BQ oracles. 1-based list indexing. Bit 63
    * can't go through DuckDB's checked `1::BIGINT << 63`; its signed
    * power is written literally (−2^63), and list_sum's HUGEINT
    * accumulation makes the OR-by-addition exact before the final
    * BIGINT cast — mirroring the Spark encode's Long.MinValue power. */
  private val bqCodesSql =
    """dim AS (
      |  SELECT unnest(embedding::DOUBLE[]) AS x,
      |         unnest(range(len(embedding))) AS i
      |  FROM embeddings
      |),
      |mm AS (SELECT i, (min(x) + max(x))/2 AS thr FROM dim GROUP BY i),
      |thrl AS (SELECT list(thr ORDER BY i) AS thr FROM mm),
      |bq AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range((len(embedding) + 63) // 64), w ->
      |      list_sum(list_transform(range(64), j ->
      |        CASE WHEN w*64 + j < len(embedding)
      |              AND embedding[w*64 + j + 1]::DOUBLE > thr[w*64 + j + 1]
      |             THEN CASE WHEN j = 63
      |                       THEN (-9223372036854775807 - 1)::BIGINT
      |                       ELSE (1::BIGINT << j) END
      |             ELSE 0 END))::BIGINT) AS codes
      |  FROM embeddings, thrl
      |)""".stripMargin

  /** Hamming top-k CTEs over [[bqCodesSql]]: queries are the first
    * NumQueries corpus rows (same as queriesDf), distance is summed
    * per-word popcount of XOR, ties pinned by vec_id — byte-identical to
    * the Spark TopK tail. */
  private def bqHammingSql(depth: Int): String =
    s"""qs AS (
       |  SELECT vec_id AS query_id, codes AS qc
       |  FROM bq ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |ham AS (
       |  SELECT qs.query_id, bq.vec_id,
       |    list_sum(list_transform(range(len(qs.qc)), w ->
       |      bit_count(xor(qs.qc[w+1], bq.codes[w+1]))))::BIGINT AS hamming
       |  FROM qs CROSS JOIN bq
       |),
       |cand AS (
       |  SELECT query_id, vec_id, hamming, rn FROM (
       |    SELECT query_id, vec_id, hamming,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY hamming, vec_id) AS rn
       |    FROM ham
       |  ) WHERE rn <= $depth
       |)""".stripMargin
  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IVF ANN search (L2) over the standard 100-query set. Self-graded:
    // each row's dist is recomputed exactly in the same job
    // (Eval.withValidity); rows are also dumped so the DuckDB oracle
    // re-derives `valid` cross-engine (LshQueries.SearchDumpRoot).
    "q_ivf_search_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfIdx(s, dir)
      val res = Eval.withValidity(idx.searchAll(q, K, ExactNN.L2), e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_l2")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Distributed-fit twin of q_ivf_search_l2: driverFitMaxSample = 1
    // forces the MLlib k-means|| coarse fit (the fit path a 100 TB
    // corpus uses, where FitSample.collectVectors stops holding), then
    // serves the same 100-query L2 search under the same per-pair
    // distance oracle — cheap insurance that the distributed fit's
    // index SERVES correctly under the driver gate, not only in specs.
    // The cell geometry differs from the driver fit (seeded k-means||
    // init — DistributedFitSpec's recall-parity contract), so this row
    // re-verifies distances, not cell assignments.
    "q_ivf_search_l2_distfit" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivf_dist_idx") {
        Ivf.train(e, "vec_id", "embedding", ivfDistFitConfig)
      }
      val res = Eval.withValidity(idx.searchAll(q, K, ExactNN.L2), e, q,
        ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_l2_distfit")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Angular IVF search: spherical cells + exact-cosine scoring — the
    // cosine half of q_ivf_search_l2, same dump-and-recheck oracle
    // (every returned pair's cosine recomputed by DuckDB). Completes
    // both-metric oracle coverage for the IVF family (LSH and IVF-PQ
    // already have cosine rows).
    "q_ivf_search_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivf_idx_ang") {
        Ivf.train(e, "vec_id", "embedding", ivfAngularConfig)
      }
      val res = Eval.withValidity(idx.searchAll(q, K, ExactNN.Cosine), e, q,
        ExactNN.Cosine)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_cosine")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // IVF recall vs exact ground truth at the same k. Predictions are
    // dumped so the DuckDB oracle recomputes the ground truth itself and
    // re-derives the recall aggregate cross-engine (LshQueries.recallOracle).
    "q_ivf_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfIdx(s, dir)
      val pred = LshQueries.dumpAndReload(s, idx.searchAll(q, K, ExactNN.L2),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_recall_l2")
      val gt = exactGtL2(s, dir)
      Eval.setPrecisionRecall(pred, gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    // IVF selectivity dispatch under the oracle — the IVF twin of
    // q_lsh_search_filtered_selective: a 2% allow-list binds
    // IvfIndex.searchAllFiltered's exact-scan path
    // (FilteredSearch.useExactScan), so recall vs DuckDB's own filtered
    // exact ground truth must be EXACTLY 1.0.
    "q_ivf_search_filtered_selective" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfIdx(s, dir)
      val allowed = e.where(col("vec_id") % 50 === 0)
      // dispatch+serve+dump ∥ the subset exact GT (the
      // q_lsh_search_filtered_selective form)
      val legs = inParallel(
        () => LshQueries.dumpAndReload(s,
          idx.searchAllFiltered(q, allowed, K, ExactNN.L2),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_filtered_selective"),
        () => ExactNN.topK(q, allowed, K, ExactNN.L2).localCheckpoint())
      val (pred, gt) = (legs(0), legs(1))
      Eval.setPrecisionRecall(pred, gt)
        .agg(
          round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
    }),


    // Density-aware filtered dispatch on the IVF family — the cell
    // twin of q_lsh_filtered_auto (round 16): the estimator ranks the
    // query's NEAREST-cell population (IvfIndex.localAllowedCounts),
    // the same routing rule/cutoffs via FilteredSearch.routeBucket,
    // and DuckDB re-derives the median + quartile from the dumped
    // (query_id, cell) assignments + cells table, replays the route
    // CASE and the bimodal rule, and grades each arm vs its own
    // filtered exact GT — the shared bucketFilteredAutoOracleSql
    // builder, so the two families' replays cannot drift.
    "q_ivf_filtered_auto" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx0 = ivfIdx(s, dir)
      val dump = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      // the two oracle-input dumps are independent legs — overlap them
      // (guide §2.6). Decisions and serves run over the DUMPED cells,
      // so the rows DuckDB re-derives from are bit-for-bit the rows
      // Spark routed on.
      val dumps = inParallel(
        () => LshQueries.dumpAndReload(s,
          idx0.cells.select(col("vec_id"), col("cell")),
          s"$dump/ivf_auto_cells"),
        () => LshQueries.dumpAndReload(s,
          idx0.model.transform(q, "query_id", "qv")
            .select(col("query_id"), col("cell")),
          s"$dump/ivf_auto_qcell"))
      val idx = new graft.ann.ivf.IvfIndex(idx0.model, idx0.vectors,
        dumps(0))
      val arms = GraphQueries.FilteredAutoArms.map { case (name, m, r) =>
        (name, pmod(col("vec_id"), lit(m)) === r)
      }
      // ONE corpus aggregate for every arm's counts (guide §2.3),
      // threaded via the decision's pass-through params; arms run as
      // concurrent jobs, decision ∥ exact scan within each arm —
      // the q_lsh_filtered_auto form
      val cntCols = arms.zipWithIndex.map { case ((_, pred), i) =>
        count(when(pred, lit(1))).as(s"a$i")
      }
      val cntRow = e.agg(count(lit(1)).as("c"), cntCols: _*).head()
      val nCorpus = cntRow.getLong(0)
      val results = inParallel(arms.zipWithIndex.map {
        case ((name, pred), i) => () => {
          val allowed = e.where(pred).select("vec_id")
          val legs = inParallel(
            () => idx.filteredDecision(q, allowed, K,
              allowedCount = Some(cntRow.getLong(i + 1)),
              corpusCount = Some(nCorpus)),
            () => ExactNN.topK(q,
                e.where(pred).select(col("vec_id"), col("embedding")), K,
                ExactNN.L2)
              .localCheckpoint())
          val d = legs(0).asInstanceOf[graft.ann.FilteredSearch.Decision]
          val exactSubset = legs(1).asInstanceOf[DataFrame]
          val res =
            (if (d.route.exact) exactSubset
             else idx.searchAll(q, K, ExactNN.L2, allowed = Some(allowed)))
              .withColumn("arm", lit(name))
          (name, d, res, exactSubset)
        }
      }: _*)
      val preds = LshQueries.dumpAndReload(s,
        results.map(_._3).reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"$dump/ivf_auto_preds")
      import s.implicits._
      def r4(v: Double): Double = BigDecimal(v)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val decisions = results.map { case (name, d, _, _) =>
        (name, d.corpusCount, d.allowedCount,
          r4(d.medianLocalAllowed.getOrElse(-1.0)), d.route.name,
          r4(d.lowQuartileLocalAllowed.getOrElse(-1.0)),
          d.bimodalStarved(K))
      }.toDF("arm", "corpus_n", "allowed_n", "median_local_allowed",
        "route", "low_quartile_local_allowed", "warn_bimodal")
      val recalls = results.map { case (name, _, _, gt) =>
        Eval.setPrecisionRecall(
            preds.where(col("arm") === name).select("query_id", "vec_id"),
            gt.select("query_id", "vec_id"))
          .agg(round(avg("recall"), 4).as("avg_recall"),
            count(lit(1)).as("n_queries"))
          .withColumn("arm", lit(name))
      }.reduce(_ unionByName _)
      decisions.join(recalls, "arm").orderBy("arm")
    }),


    // Label-partitioned IVF store under the oracle (IvfIndex.withLabels
    // → LabeledIvfIndex.searchAllLabeled — the q_lsh_filtered_labeled
    // twin): every query searches a cross-label subset (target = (own
    // label + 5) % 10); the composite-key cell table and the
    // label-conditional-centroid-ranked probe rows are dumped; DuckDB
    // recomputes the label centroids from the dumped cells themselves,
    // re-derives the probe ranking (probes_ok vs the dump), re-derives
    // the served top-k from ITS OWN probes ⋈ cells, and grades vs its
    // own per-query-label exact GT — the shared labeledStoreOracleSql
    // replay.
    "q_ivf_filtered_labeled" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfIdx(s, dir)
      val q = e.orderBy("vec_id").limit(VectorQueries.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          pmod(col("label") + 5, lit(10)).cast("string").as("label"))
      val dump = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val cellsD = LshQueries.dumpAndReload(s,
        idx.withLabels(e.select(col("vec_id"), col("label"))).labeledCells,
        s"$dump/ivf_labeled_cells")
      val store = new graft.ann.ivf.LabeledIvfIndex(idx.model, idx.vectors,
        cellsD)
      val probes = LshQueries.dumpAndReload(s, store.scopedProbeRows(q),
        s"$dump/ivf_labeled_probes")
      // probes_ok (Spark side): the dump round-trips identical to a
      // fresh derivation; DuckDB's probes_ok re-derives the ranking
      // from recomputed label centroids instead — same boolean, two
      // independent roots. Both exceptAll directions fold into ONE
      // action (empty iff both legs empty — the && of the old pair);
      // the per-query-label exact GT runs as the concurrent leg.
      val fresh = store.scopedProbeRows(q)
      val corp = e.select(col("vec_id"), col("embedding"),
        col("label").cast("string").as("clabel"))
      val gtScored = corp.join(broadcast(q), col("clabel") === q("label"))
        .select(col("query_id"), col("vec_id"),
          round(ExactNN.L2.dist(col("qv"), col("embedding")), 6).as("dist"))
      val legs = inParallel(
        () => probes.exceptAll(fresh)
          .unionByName(fresh.exceptAll(probes)).isEmpty,
        () => graft.ann.TopK.perQueryTopK(gtScored, K).localCheckpoint())
      val probesOk = legs(0).asInstanceOf[Boolean]
      val gt = legs(1).asInstanceOf[DataFrame]
      val pred = store.searchAllLabeled(q, K, ExactNN.L2,
        probes = Some(probes))
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
          gt.select("query_id", "vec_id"))
        .agg(round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
        .withColumn("probes_ok", lit(probesOk))
    }),

    // Allow-SCOPED IVF serving under the oracle (IvfIndex.scopedTo →
    // searchAllScoped — the q_lsh_filtered_scoped twin on cells;
    // scoped == labeled on one transient label, replayed through the
    // SAME labeledStoreOracleSql builder with the constant ScopedLabel
    // and the allow predicate as the GT corpus; the API sees ONLY the
    // id allow-list). `api_ok` pins the public one-call serve to the
    // replayed chain's rows.
    "q_ivf_filtered_scoped" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfIdx(s, dir)
      val q = e.orderBy("vec_id").limit(VectorQueries.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val allowed = e.where(col("label") < 5).select("vec_id")
      val dump = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val cellsD = LshQueries.dumpAndReload(s,
        idx.scopedTo(allowed).labeledCells, s"$dump/ivf_scoped_cells")
      val store = new graft.ann.ivf.LabeledIvfIndex(idx.model, idx.vectors,
        cellsD)
      val qs = q.withColumn("label",
        lit(graft.ann.FilteredSearch.ScopedLabel))
      val probes = LshQueries.dumpAndReload(s, store.scopedProbeRows(qs),
        s"$dump/ivf_scoped_probes")
      val fresh = store.scopedProbeRows(qs)
      // the q_lsh_filtered_scoped form: checkpoint pred/api once (pred
      // is read by both apiOk directions + the final grade), overlap
      // with the probes identity check; one action per identity check
      val legs = inParallel(
        () => store.searchAllLabeled(qs, K, ExactNN.L2,
          probes = Some(probes)).localCheckpoint(),
        () => idx.searchAllScoped(q, allowed, K, ExactNN.L2)
          .localCheckpoint(),
        () => probes.exceptAll(fresh)
          .unionByName(fresh.exceptAll(probes)).isEmpty,
        () => ExactNN.topK(q, e.join(allowed, "vec_id"), K, ExactNN.L2)
          .localCheckpoint())
      val pred = legs(0).asInstanceOf[DataFrame]
      val api = legs(1).asInstanceOf[DataFrame]
      val probesOk = legs(2).asInstanceOf[Boolean]
      val gt = legs(3).asInstanceOf[DataFrame]
      val apiOk = api.exceptAll(pred)
        .unionByName(pred.exceptAll(api)).isEmpty
      Eval.setPrecisionRecall(pred.select("query_id", "vec_id"),
          gt.select("query_id", "vec_id"))
        .agg(round(avg("precision"), 4).as("avg_precision"),
          round(avg("recall"), 4).as("avg_recall"),
          count(lit(1)).as("n_queries"))
        .withColumn("probes_ok", lit(probesOk))
        .withColumn("api_ok", lit(apiOk))
    }),


    // Recall-targeted operating-point selection under the oracle
    // (graft.ann.AutoTune — the production form of the reference's
    // annbench sweep, annbench.go:165-187): four nProbe arms searched
    // on the validation query sample, each arm's raw predictions
    // dumped, per-arm recall graded vs exact GT, the cheapest arm
    // meeting the 0.95 target flagged. DuckDB recomputes the ground
    // truth, re-derives every arm's recall from the dumps, and replays
    // the min-arm-meeting-target rule — the WHOLE tuning decision is
    // cross-engine checked, not just the recall numbers.
    "q_autotune_ivf_nprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfIdx(s, dir)
      // shared-scan form: one scored candidate pass at the max arm,
      // smaller arms cut by probe rank — row-identical to the per-arm
      // sweep (AutoTuneSpec), |arms|x fewer corpus-candidate scans.
      // ALL arms' predictions land in ONE dump (one write+reload
      // round-trip instead of |arms|), and the exact GT is the memoized
      // shared scan the recall queries grade against — together the
      // round-11 board-cost trim (6.6 s -> target ≤4 s), decision
      // unchanged: DuckDB still re-derives every arm's recall from the
      // dump and replays the choice rule.
      val preds = graft.ann.AutoTune.ivfNProbeSharedPreds(idx, q, K,
        AutoTuneArms, ExactNN.L2)
      val reloaded = LshQueries.dumpAndReload(s, preds,
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/autotune_nprobe_arms")
      graft.ann.AutoTune.gradeArms(AutoTuneArms, reloaded,
          exactGtL2(s, dir), AutoTuneTarget)
        .orderBy("arm")
    }),


    // Compressed-scan tuning knob under the oracle — the BQ Hamming
    // candidate depth, completing the tuning matrix's last edge (LSH
    // trees / IVF nProbe / PQ rerankDepth / graph beam / BQ depth):
    // four depth arms of the deployment-shape search (Hamming scan to
    // depth d, exact L2 rerank to top-k), every arm's predictions in
    // one dump, per-arm recall graded GT-side vs the shared exact
    // ground truth, cheapest arm meeting the target flagged. DuckDB
    // recomputes its own GT, re-derives each arm's recall from the
    // dump, and replays the choice rule — the decision that sets
    // [[BqRerankDepth]] (the previously hand-set constant) is itself
    // cross-engine checked.
    "q_autotune_bq_depth" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = bqIdx(s, dir)
      // shared-scan form (the sweepIvfNProbeShared pattern): the
      // Hamming ordering is deterministic by (hamming, vec_id), so arm
      // d's candidate set is exactly the first d of the max arm's
      // ranking — ONE packed-codes scan and ONE exact rescore of the
      // max arm's candidates serve every arm (each arm is then a
      // bounded rank-filter + TopK), row-identical to the per-arm
      // searchRerank the sweep method runs (AutoTune.sweepBqDepth).
      val maxArm = BqDepthArms.max
      val ranked = idx.searchHamming(q, maxArm)
        .groupBy("query_id")
        .agg(graft.ann.TopK.topK(maxArm)(col("vec_id"),
          col("hamming").cast("double")).as("nn"))
        .select(col("query_id"), posexplode(col("nn")))
        .select(col("query_id"), col("pos").as("hrank"),
          col("col.vec_id").as("vec_id"))
      val scored = ranked
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"), col("hrank"),
          round(ExactNN.L2.dist(col("qv"), col("embedding")), 6).as("dist"))
        .localCheckpoint()
      val armFrames = BqDepthArms.map { d =>
        graft.ann.TopK.perQueryTopK(
            scored.where(col("hrank") < d)
              .select("query_id", "vec_id", "dist"),
            K)
          .withColumn("arm", lit(d))
      }
      val reloaded = LshQueries.dumpAndReload(s,
        armFrames.reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/autotune_bq_arms")
      graft.ann.AutoTune.gradeArms(BqDepthArms, reloaded,
          exactGtL2(s, dir), AutoTuneTarget)
        .orderBy("arm")
    }),


    // SQ rerank-depth sweep — the BQ twin's 8-bit counterpart and the
    // tuning matrix's final row (AutoTune.sweepSqRerankDepth was
    // spec-gated only): the same shared-scan decision replay, over the
    // quantized-scan ordering instead of the Hamming one. The point the
    // sweep PROVES rather than assumes: at 255 levels the quantized
    // scan ranks nearly exactly, so the depth floors at k itself —
    // [[SqRerankDepth]] is the certified cheapest arm, and the
    // q_sq_search_l2 / q_sq_recall family serves with it.
    "q_autotune_sq_depth" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = sqIdx(s, dir)
      // shared-scan form: the quantized ordering is deterministic by
      // (dist, vec_id), so arm d's candidate set is exactly the first
      // d of the max arm's ranking — ONE decoded-codes scan and ONE
      // exact rescore serve every arm (row-identical to the per-arm
      // searchRerank AutoTune.sweepSqRerankDepth runs).
      val maxArm = SqDepthArms.max
      val ranked = idx.searchAll(q, maxArm)
        .groupBy("query_id")
        .agg(graft.ann.TopK.topK(maxArm)(col("vec_id"), col("dist")).as("nn"))
        .select(col("query_id"), posexplode(col("nn")))
        .select(col("query_id"), col("pos").as("qrank"),
          col("col.vec_id").as("vec_id"))
      val scored = ranked
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"), col("qrank"),
          round(ExactNN.L2.dist(col("qv"), col("embedding")), 6).as("dist"))
        .localCheckpoint()
      val armFrames = SqDepthArms.map { d =>
        graft.ann.TopK.perQueryTopK(
            scored.where(col("qrank") < d)
              .select("query_id", "vec_id", "dist"),
            K)
          .withColumn("arm", lit(d))
      }
      val reloaded = LshQueries.dumpAndReload(s,
        armFrames.reduce(_ unionByName _)
          .select(col("arm"), col("query_id"), col("vec_id"), col("dist")),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/autotune_sq_arms")
      graft.ann.AutoTune.gradeArms(SqDepthArms, reloaded,
          exactGtL2(s, dir), AutoTuneTarget)
        .orderBy("arm")
    }),


    // IVF index lifecycle under the oracle — the IVF twin of
    // q_lsh_search_deleted (IvfIndex.withDeletes, tombstone serve-time
    // view; full view == exact semantics spec-gated in LifecycleSpec's
    // all-probe config). Every returned pair is distance-recomputed
    // from the raw embeddings AND re-checked against the tombstone
    // predicate cross-engine.
    "q_ivf_search_deleted" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfIdx(s, dir)
      val dead = e.where(col("vec_id") % 7 === 0).select("vec_id")
      val res = Eval.withValidity(
          idx.withDeletes(dead).searchAll(q, K, ExactNN.L2), e, q, ExactNN.L2)
        .withColumn("valid", col("valid") && col("vec_id") % 7 =!= 0)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivf_deleted")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // IVF cell occupancy + build invariants, computed over the
    // parquet-dumped (vec_id, cell) table so DuckDB aggregates the SAME
    // assignment (see CellDumpRoot): `total_ok` is cross-engine (Spark
    // counts the dump, DuckDB counts embeddings — equal iff assignment
    // is complete and unique), `cell_count_ok` checks occupancy ≤ nCells.
    "q_ivf_cell_stats" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfIdx(s, dir)
      val dump = s"$CellDumpRoot/${LshQueries.sfName(dir)}"
      idx.cells.write.mode("overwrite").parquet(dump)
      val nVecs = e.count()
      val byCell = s.read.parquet(dump)
        .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      val inv = byCell.agg(sum("n_vectors").as("tot"), count(lit(1)).as("nc"))
      byCell.crossJoin(inv)
        .select(col("cell"), col("n_vectors"),
          (col("tot") === nVecs).as("total_ok"),
          (col("nc") <= ivfConfig.nCells).as("cell_count_ok"))
        .orderBy("cell")
    }),


    // IVF-PQ (IVFADC) rerank search: cell-pruned ADC candidates + exact
    // re-rank — returned distances are exact, so the DuckDB oracle
    // recomputes every returned pair's distance from the embeddings
    // table and re-derives `valid` cross-engine (same gate as
    // q_ivf_search_l2; the seeded two-quantizer fit stays spec-gated in
    // IvfPqSpec).
    "q_ivfpq_search_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfPqIdx(s, dir)
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfpq_l2")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Distributed-fit twin of q_ivfpq_search_l2 ([[ivfPqDistFitConfig]]
    // forces IvfPq.fitDistributedCoarse): same deployment-shape rerank
    // search, same per-pair distance recompute oracle — the compressed
    // family's past-driver-bound fit path under CORRECTNESS, not only
    // under DistributedFitSpec.
    "q_ivfpq_search_l2_distfit" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivfpq_dist_idx") {
        graft.ann.ivfpq.IvfPq.train(e, "vec_id", "embedding",
          ivfPqDistFitConfig)
      }
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfpq_l2_distfit")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Constrained IVF-PQ rerank search via the scan-side codesFilter
    // (the filtered-DiskANN shape: the predicate runs on the codes
    // scan — zero joins, disallowed rows never scored and never
    // consuming rerank slots; the stored-metadata-column layout is
    // spec'd in IvfPqSpec). The predicate here references vec_id,
    // already a codes column, so the SHARED index serves directly —
    // no second instance, no duplicate corpus count. The oracle
    // recomputes every returned pair's exact distance AND re-checks
    // the predicate on the returned id — one disallowed row flips
    // `valid` cross-engine.
    "q_ivfpq_search_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfPqIdx(s, dir)
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")),
          K, 100, codesFilter = Some(col("vec_id") % 2 === 0)),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfpq_filtered")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Angular IVF-PQ rerank search: both quantizers fit the unit sphere
    // (cosine ranking == L2 ranking on normalized vectors — the same
    // metric coupling the reference ties to angular indexing,
    // lsh/hasher.go:121-132) and rerank is exact cosine. This puts the
    // angular compressed-index path — previously probe-measured and
    // spec-gated only — under the same cross-engine per-pair distance
    // oracle as q_ivfpq_search_l2 / q_lsh_search_cosine.
    "q_ivfpq_search_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivfpq_idx_ang") {
        graft.ann.ivfpq.IvfPq.train(e, "vec_id", "embedding",
          ivfPqConfig.copy(angular = true))
      }
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.Cosine)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfpq_cosine")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // IVF-PQ recall: ADC-only vs ADC+exact-rerank against exact ground
    // truth, both prediction sets dumped so the DuckDB oracle recomputes
    // the ground truth and both recall aggregates cross-engine (mirrors
    // q_pq_recall — the delta between the two queries is the residual
    // encoding + cell pruning).
    "q_ivfpq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfPqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val adcPred = LshQueries.dumpAndReload(s, idx.searchAll(q, K),
        s"$dumpBase/ivfpq_adc")
      val rerPred = LshQueries.dumpAndReload(s,
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        s"$dumpBase/ivfpq_rerank")
      val adc = Eval.setPrecisionRecall(adcPred, gt)
        .agg(round(avg("recall"), 4).as("adc_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      adc.crossJoin(rer)
    }),


    // IVF-OPQ recall — the faiss "OPQ,IVF,PQ" production shape under
    // the oracle, beside q_ivfpq_recall at the SAME coarse geometry and
    // code budget so the two rows isolate exactly the learned rotation:
    // rotated-space candidate generation (ADC over residual codes of
    // the rotated corpus), original-space exact L2 rerank (the rotation
    // is an isometry — IvfOpq scaladoc). Both prediction sets are
    // dumped and regraded against DuckDB's OWN exact ground truth, so
    // the IVF-OPQ-vs-IVF-PQ delta reads directly off the board: compare
    // adc_recall here to q_ivfpq_recall's (win on anisotropic data,
    // wash on near-isotropic — the SCALE.md measured story; extends the
    // reference's recall grading, annbench/annbench.go:165-187).
    "q_ivfopq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfOpqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val adcPred = LshQueries.dumpAndReload(s, idx.searchAll(q, K),
        s"$dumpBase/ivfopq_adc")
      val rerPred = LshQueries.dumpAndReload(s,
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        s"$dumpBase/ivfopq_rerank")
      val adc = Eval.setPrecisionRecall(adcPred, gt)
        .agg(round(avg("recall"), 4).as("adc_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      adc.crossJoin(rer)
    }),


    // IVF-PQ build invariants over the parquet-dumped (vec_id, cell,
    // codes) table: DuckDB aggregates the SAME dump — `total_ok` is
    // cross-engine (Spark counts the dump, DuckDB counts embeddings),
    // `cell_count_ok` bounds occupancy, `codes_len_ok` checks every code
    // row has exactly numSubvectors entries.
    "q_ivfpq_code_stats" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfPqIdx(s, dir)
      val dump = s"$CodeDumpRoot/${LshQueries.sfName(dir)}"
      idx.codes.write.mode("overwrite").parquet(dump)
      val nVecs = e.count()
      val byCell = s.read.parquet(dump)
        .groupBy("cell").agg(count(lit(1)).as("n_vectors"),
          sum(when(size(col("codes")) === ivfPqConfig.numSubvectors, 0L)
            .otherwise(1L)).as("bad_len"))
      val inv = byCell.agg(sum("n_vectors").as("tot"), count(lit(1)).as("nc"),
        sum("bad_len").as("badtot"))
      byCell.crossJoin(inv)
        .select(col("cell"), col("n_vectors"),
          (col("tot") === nVecs).as("total_ok"),
          (col("nc") <= ivfPqConfig.nCells).as("cell_count_ok"),
          (col("badtot") === 0L).as("codes_len_ok"))
        .orderBy("cell")
    }),


    // PQ compressed-search recall: ADC-only vs ADC+exact-rerank against
    // exact ground truth. Both prediction sets are dumped so the DuckDB
    // oracle recomputes the ground truth and both recall aggregates
    // cross-engine (the seeded k-means internals stay gated by PqSpec).
    "q_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = pqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      // the two search+dump legs are independent — overlap them
      val dumps = inParallel(
        () => LshQueries.dumpAndReload(s, idx.searchAll(q, K),
          s"$dumpBase/pq_adc"),
        () => LshQueries.dumpAndReload(s,
          idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K,
            100),
          s"$dumpBase/pq_rerank"))
      val (adcPred, rerPred) = (dumps(0), dumps(1))
      val adc = Eval.setPrecisionRecall(adcPred, gt)
        .agg(round(avg("recall"), 4).as("adc_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      adc.crossJoin(rer)
    }),


    // OPQ vs plain PQ at the SAME code budget: ADC recall of both
    // against exact ground truth (Ge et al. CVPR 2013 — a learned
    // orthogonal rotation before PQ; fit alternation + never-worse
    // contract spec-gated in OpqSpec). Both prediction dumps are
    // regraded by DuckDB's own GT, so the comparison itself is
    // cross-engine — the rotation's value shows up (or honestly
    // doesn't, on isotropic data) as the opq_recall − pq_recall gap.
    "q_opq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val pq = pqIdx(s, dir)
      val opq = opqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      // the two search+dump legs are independent — overlap them
      val dumps = inParallel(
        () => LshQueries.dumpAndReload(s, pq.searchAll(q, K),
          s"$dumpBase/opq_pq_adc"),
        () => LshQueries.dumpAndReload(s, opq.searchAll(q, K),
          s"$dumpBase/opq_adc"))
      val (pqPred, opqPred) = (dumps(0), dumps(1))
      val a = Eval.setPrecisionRecall(pqPred, gt)
        .agg(round(avg("recall"), 4).as("pq_recall"))
      val b = Eval.setPrecisionRecall(opqPred, gt)
        .agg(round(avg("recall"), 4).as("opq_recall"))
      a.crossJoin(b)
    }),


    // IVF-SQ build: the (vec_id, cell, codes) dump carries the usual
    // cell invariants (assignment completeness, cell count) PLUS a
    // per-cell weighted code sum that DuckDB recomputes from its OWN
    // re-encode of the raw embeddings (the SQ bounds are deterministic
    // and sample-free) — a single wrong code anywhere in a cell breaks
    // that cell's row cross-engine.
    "q_ivfsq_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfSqIdx(s, dir)
      val dump = s"$IvfSqCodeDumpRoot/${LshQueries.sfName(dir)}"
      idx.codes.write.mode("overwrite").parquet(dump)
      val nVecs = e.count()
      val byCell = s.read.parquet(dump)
        .select(col("cell"), posexplode(col("codes")))
        .groupBy("cell")
        .agg((count(lit(1)) / idx.sq.dims).cast("bigint").as("n_vectors"),
          sum(col("col").cast("bigint") * (col("pos") + 1)).as("code_wsum"))
      val inv = byCell.agg(sum("n_vectors").as("tot"), count(lit(1)).as("nc"))
      byCell.crossJoin(inv)
        .select(col("cell"), col("n_vectors"), col("code_wsum"),
          (col("tot") === nVecs).as("total_ok"),
          (col("nc") <= ivfSqConfig.nCells).as("cell_count_ok"))
        .orderBy("cell")
    }),


    // IVF-SQ rerank search: cell-pruned quantized candidates + exact
    // re-rank — returned distances are exact, per-pair oracle (same
    // gate as q_ivfpq_search_l2).
    "q_ivfsq_search_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfSqIdx(s, dir)
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfsq_l2")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Distributed-fit twin of q_ivfsq_search_l2 ([[ivfSqDistFitConfig]]
    // forces Ivf.fitCentroidsDistributed under the IVF-SQ build): all
    // three compressed IVF families' 100 TB fit paths now sit under the
    // per-pair distance oracle (IVF, IVF-PQ, IVF-SQ; IVF-OPQ trains
    // through IvfPq on the rotated corpus, so the IVF-PQ row covers
    // its dispatch).
    "q_ivfsq_search_l2_distfit" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivfsq_dist_idx") {
        graft.ann.ivfsq.IvfSq.train(e, "vec_id", "embedding",
          ivfSqDistFitConfig)
      }
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfsq_l2_distfit")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Angular IVF-SQ rerank search: spherical cells + SQ codes over the
    // normalized vectors, exact-cosine rerank — keeps the both-metric
    // oracle coverage complete for every cell/bucket-probing family
    // (LSH, IVF, IVF-PQ, IVF-SQ).
    "q_ivfsq_search_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = memoized(s, dir, "ivfsq_idx_ang") {
        graft.ann.ivfsq.IvfSq.train(e, "vec_id", "embedding",
          ivfSqConfig.copy(angular = true))
      }
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        e, q, ExactNN.Cosine)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfsq_cosine")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // Constrained IVF-SQ rerank search via the scan-side codesFilter —
    // completing the filtered matrix across the code-table serving
    // indexes (IVF-PQ r10, IVF-SQ here; SQ/BQ hooks are spec-gated):
    // the predicate runs on the codes scan (filtered-DiskANN layout —
    // zero joins, disallowed rows never decoded, never scored, never
    // consuming rerank slots). The predicate references vec_id, already
    // a codes column, so the SHARED index serves directly. The oracle
    // recomputes every returned pair's exact distance AND re-checks the
    // predicate on the returned id — one disallowed row flips `valid`
    // cross-engine.
    "q_ivfsq_search_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfSqIdx(s, dir)
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")),
          K, 100, codesFilter = Some(col("vec_id") % 2 === 0)),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/ivfsq_filtered")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // IVF-SQ recall: quantized cell-pruned scan vs exact rerank, dual
    // prediction dumps regraded by DuckDB (same oracle as q_pq_recall /
    // q_sq_recall — the delta across the three is compression scheme ×
    // pruning).
    "q_ivfsq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = ivfSqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val scanPred = LshQueries.dumpAndReload(s, idx.searchAll(q, K),
        s"$dumpBase/ivfsq_scan")
      val rerPred = LshQueries.dumpAndReload(s,
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K, 100),
        s"$dumpBase/ivfsq_rerank")
      val scan = Eval.setPrecisionRecall(scanPred, gt)
        .agg(round(avg("recall"), 4).as("adc_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      scan.crossJoin(rer)
    }),


    // Scalar-quantization codes: unlike the seeded index fits, the SQ
    // fit (exact per-dim min/max, no sample, no seed) is fully
    // SQL-expressible, so the ENTIRE codes table hash-compares
    // cross-engine — DuckDB refits the bounds and re-encodes every
    // vector independently. The strongest build oracle in the index
    // family: a single wrong code anywhere mismatches. Emitted as
    // exploded scalar rows (vec_id, pos, code) — one row per code, full
    // coverage preserved — because the driver harness hashes scalar
    // columns (the q_jl_project convention for array-valued results).
    "q_sq_codes" -> ((s, dir) => {
      val idx = sqIdx(s, dir)
      idx.codes.select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    }),


    // Code-table lifecycle certification (CompressedLifecycleSpec pins
    // the uniform 5-family contract; this row cross-engine-recomputes
    // the SQ pole end to end): a deterministic delete + upsert script
    // against FROZEN bounds — ids ≡ UpsertDeadRem (mod UpsertMod) are
    // tombstoned, ids ≡ UpsertUpdRem are upserted to the embedding of
    // (vec_id × UpsertSrcMul) mod n. DuckDB refits the bounds from the
    // ORIGINAL corpus (the append contract: arrivals never refit) and
    // re-derives the final codes table row for row.
    "q_sq_upsert_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = sqIdx(s, dir)
      val n = e.count()
      val dead = e.where(pmod(col("vec_id"), lit(UpsertMod)) === UpsertDeadRem)
        .select("vec_id")
      val updates = e
        .where(pmod(col("vec_id"), lit(UpsertMod)) === UpsertUpdRem)
        .select(col("vec_id"),
          pmod(col("vec_id") * UpsertSrcMul, lit(n)).as("src_id"))
        .join(e.select(col("vec_id").as("src_id"), col("embedding")), "src_id")
        .select(col("vec_id"), col("embedding"))
      idx.withDeletes(dead).upsert(updates).codes
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    }),


    // The CLOSED DRIFT LOOP under the oracle (round 14's
    // refitDue/refitAndSwap maintainer API, q_sq_upsert_codes'
    // frozen-bounds complement): a store fit on the base corpus takes
    // one rule-derived DRIFTED batch — the tail ids arrive with every
    // component shifted +RefitShift (a real distribution move, ~10
    // fit-MADs) while ids ≡ 0 (mod RefitDeadMod) are deleted — which
    // must trip `refitDue` (refitAfterBreaches = 1; asserted, not
    // assumed), and `refitAndSwap` then re-fits the bounds on the LIVE
    // corpus and re-encodes it atomically. DuckDB re-derives the live
    // corpus from the same rules, re-fits min/max bounds itself, and
    // re-encodes every row — the whole refit output hash-compared code
    // by code (the q_sq_codes gate applied to the lifecycle's hardest
    // step: a refit that lands one wrong bound mismatches everywhere).
    "q_sq_refit_codes" -> ((s, dir) => {
      // the lifecycle build (store + drifted batch + refitDue +
      // refitAndSwap) is memoized per (session, sf) like the other
      // stored-lifecycle rows (scoped_graph_store, postings_refit) —
      // its cost is a memo_builds line item; the row times serving
      val m = memoized(s, dir, "sq_refit_store") {
        val e = emb(s, dir)
        val cut = e.agg(max("vec_id")).head().getLong(0) + 1 -
          InsertTailCount
        val base = e.where(col("vec_id") < cut)
          .select(col("vec_id"), col("embedding").cast("array<double>")
            .as("embedding"))
        val arrivals = e.where(col("vec_id") >= cut)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + RefitShift).as("embedding"))
        val dead = base.where(pmod(col("vec_id"), lit(RefitDeadMod)) === 0)
          .select("vec_id")
        val tmp = java.nio.file.Files
          .createTempDirectory("sq_refit_row").toString
        val idx = graft.ann.sq.Sq.train(base, "vec_id", "embedding")
        idx.save(s, s"$tmp/idx")
        graft.ann.DriftCheck.writeFitStats(base, s"$tmp/fit_stats")
        val maint = new graft.ann.CodesMaintainer(s, s"$tmp/idx",
          encode = a => idx.model.transformDf(a, "vec_id", "embedding"),
          compactEvery = 100,
          driftCheck = Some(new graft.ann.DriftCheck(s, s"$tmp/fit_stats")),
          refitAfterBreaches = 1)
        maint.onBatch(Some(arrivals), Some(dead))
        require(maint.refitDue,
          "q_sq_refit_codes: the rule-derived drift must trip refitDue")
        val live = base.join(broadcast(dead), Seq("vec_id"), "left_anti")
          .unionByName(arrivals)
        val model2 = graft.ann.sq.Sq.fit(live, "embedding")
        maint.refitAndSwap(live,
          newEncode = df => model2.transformDf(df, "vec_id", "embedding"),
          writeModel = out => model2.save(s, out),
          modelSubs = Seq("bounds", "meta"))
        maint
      }
      m.liveCodes.select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    }),


    // SQ rerank search: quantized-scan candidates + exact re-rank, so
    // returned distances are exact and every returned pair re-verifies
    // from the raw embeddings cross-engine (same gate as
    // q_ivfpq_search_l2).
    "q_sq_search_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = sqIdx(s, dir)
      val res = Eval.withValidity(
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K,
          SqRerankDepth),
        e, q, ExactNN.L2)
      LshQueries.dumpAndReload(s, res,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/sq_l2")
        .orderBy("query_id", "dist", "vec_id")
    }),


    // SQ recall: quantized-scan-only vs rerank against exact ground
    // truth, both prediction sets dumped and regraded by DuckDB (same
    // dual oracle as q_pq_recall). At 255 levels the quantized scan is
    // near-lossless on 64-d data — the point of SQ is a 4-8x footprint
    // cut at ~unit recall, sitting between the exact scan and PQ's
    // deeper compression. The rerank leg probes SqRecallProbeDepth
    // (NOT the swept serving depth, which equals k and would make the
    // comparison tautological — see the constant's scaladoc).
    "q_sq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = sqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val dumpBase = s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}"
      val sqPred = LshQueries.dumpAndReload(s, idx.searchAll(q, K),
        s"$dumpBase/sq_adc")
      val rerPred = LshQueries.dumpAndReload(s,
        idx.searchRerank(q, e.select(col("vec_id"), col("embedding")), K,
          SqRecallProbeDepth),
        s"$dumpBase/sq_rerank")
      val adc = Eval.setPrecisionRecall(sqPred, gt)
        .agg(round(avg("recall"), 4).as("adc_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      adc.crossJoin(rer)
    }),


    // Binary quantization codes: the midrange fit ((min+max)/2 per dim —
    // exact and summation-order-independent) makes the packed sign-bit
    // table bit-identically recomputable cross-engine, like q_sq_codes.
    // Same exploded-scalar shape: (vec_id, pos, code) with one row per
    // packed 32-bit word, every bit of the index hash-compared.
    "q_bq_codes" -> ((s, dir) => {
      val idx = bqIdx(s, dir)
      idx.codes.select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    }),


    // BQ Hamming search: the FIRST search on the board whose entire
    // result (not just per-row re-verification of a dump) is recomputed
    // by DuckDB — thresholds, sign bits, packed words, XOR+popcount
    // distances and the (hamming, vec_id) top-k tie-break are all
    // integer-or-reproducible, so there is no FP tolerance anywhere.
    "q_bq_search_hamming" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = bqIdx(s, dir)
      idx.searchHamming(queriesDf(e), K)
        .orderBy("query_id", "hamming", "vec_id")
    }),


    // BQ deployment shape: Hamming scan to depth 250 (the depth rule:
    // 1-bit/dim ranks coarsely, so depth scales with the corpus fraction
    // the scan must order — SCALE.md §ANN), exact L2 rerank to top-k.
    // Also fully SQL-recomputed: DuckDB re-derives the candidate set AND
    // the rerank.
    "q_bq_search_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = bqIdx(s, dir)
      idx.searchRerank(queriesDf(e), e.select(col("vec_id"), col("embedding")),
          K, BqRerankDepth)
        .orderBy("query_id", "dist", "vec_id")
    }),


    // BQ recall: Hamming-scan-only vs depth-250 rerank against exact
    // ground truth — the whole grading recomputed inside DuckDB (both
    // prediction sets are deterministic, so no dump is needed).
    "q_bq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = queriesDf(e)
      val idx = bqIdx(s, dir)
      val gt = exactGtL2(s, dir)
      val scanPred = idx.searchHamming(q, K)
        .select(col("query_id"), col("vec_id"))
      val rerPred = idx.searchRerank(q,
        e.select(col("vec_id"), col("embedding")), K, BqRerankDepth)
      val scan = Eval.setPrecisionRecall(scanPred, gt)
        .agg(round(avg("recall"), 4).as("scan_recall"))
      val rer = Eval.setPrecisionRecall(rerPred, gt)
        .agg(round(avg("recall"), 4).as("rerank_recall"))
      scan.crossJoin(rer)
    }),


    // BQ cosine rerank — completes the both-metric oracle coverage
    // the other index families have; fully SQL-recomputed like its L2
    // twin. (Metric note: the SimHash angle bound needs hyperplanes
    // through the origin; BQ's midrange thresholds are offset, so the
    // cosine pairing is empirical, not a theorem — Bq.searchRerank
    // scaladoc.)
    "q_bq_search_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = bqIdx(s, dir)
      idx.searchRerank(queriesDf(e), e.select(col("vec_id"), col("embedding")),
          K, BqRerankDepth, ExactNN.Cosine)
        .orderBy("query_id", "dist", "vec_id")
    }),
  )

  override def oracleSql: Map[String, String] = Map(
    // Dump paths pin sf0.01 — the driver correctness-gate scale (same
    // convention as LshQueries).
    "q_ivf_cell_stats" ->
      s"""WITH c AS (
         |  SELECT * FROM read_parquet('$CellDumpRoot/sf0.01/*.parquet')
         |),
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |st AS (SELECT cell, count(*)::BIGINT AS n_vectors FROM c GROUP BY cell),
         |inv AS (SELECT sum(n_vectors)::BIGINT AS tot, count(*) AS nc FROM st)
         |SELECT st.cell, st.n_vectors,
         |       inv.tot = nv.n AS total_ok,
         |       inv.nc <= ${ivfConfig.nCells} AS cell_count_ok
         |FROM st, inv, nv ORDER BY st.cell""".stripMargin,


    "q_ivf_search_l2" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_l2/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Distributed-fit twin: same per-pair distance recompute as
    // q_ivf_search_l2, over the distfit dump.
    "q_ivf_search_l2_distfit" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_l2_distfit/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Density-aware IVF dispatch replay (see the query's scaladoc) —
    // the shared builder with the nearest-cell candidate CTE.
    "q_ivf_filtered_auto" -> LshQueries.bucketFilteredAutoOracleSql(
      candSql =
        s"""  SELECT qc.query_id, ce.vec_id
           |  FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_auto_qcell/*.parquet') qc
           |  JOIN read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_auto_cells/*.parquet') ce
           |    USING (cell)""".stripMargin,
      predsGlob =
        s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_auto_preds/*.parquet"),

    // Label-partitioned IVF store: the shared labeledStoreOracleSql
    // replay — DuckDB recomputes the label-conditional cell centroids
    // from the dumped cells, re-derives the probe ranking (probes_ok),
    // re-derives the served top-k, and grades vs its own
    // per-query-label exact GT.
    "q_ivf_filtered_labeled" -> LshQueries.labeledStoreOracleSql(
      storeGlob =
        s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_labeled_cells/*.parquet",
      probesGlob =
        s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_labeled_probes/*.parquet",
      keyCols = Seq("cell"),
      centroidWhere = "",
      budget = ivfConfig.nProbe,
      threshold = None),

    // Allow-scoped IVF serving: the same builder with the constant
    // ScopedLabel and the allow predicate as the GT corpus (see
    // q_lsh_filtered_scoped). api_ok asserted TRUE — the Spark side
    // measured the public searchAllScoped against the replayed chain.
    "q_ivf_filtered_scoped" ->
      s"""SELECT *, TRUE AS api_ok FROM (
         |${LshQueries.labeledStoreOracleSql(
            storeGlob =
              s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_scoped_cells/*.parquet",
            probesGlob =
              s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_scoped_probes/*.parquet",
            keyCols = Seq("cell"),
            centroidWhere = "",
            budget = ivfConfig.nProbe,
            threshold = None,
            queryLabelSql = s"'${graft.ann.FilteredSearch.ScopedLabel}'",
            gtWhere = "e.label < 5")}
         |)""".stripMargin,

    // IVF selective-dispatch recall vs DuckDB's own filtered exact
    // ground truth — must be exactly 1.0 (exact-scan path binds at 2%).
    "q_ivf_search_filtered_selective" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_filtered_selective/*.parquet",
      LshQueries.L2DistSql, None, K,
      corpusWhere = "WHERE vec_id % 50 = 0"),


    // Auto-tune sweep: DuckDB recomputes the exact GT, re-derives each
    // arm's avg recall from the combined prediction dump, and replays
    // the cheapest-arm-meeting-target choice rule — the full tuning
    // decision cross-engine, mirroring AutoTune.gradeArms's GT-side
    // round(per-query recall, 6) -> round(avg, 4) -> min-arm pipeline
    // (every arm graded over EVERY validation query; an arm with no
    // rows for a query scores recall 0 there, not a skipped row).
    "q_autotune_ivf_nprobe" -> autotuneOracleSql(
      "autotune_nprobe_arms", AutoTuneArms, AutoTuneTarget,
      LshQueries.L2DistSql),


    // BQ depth sweep: identical decision replay, L2 GT — the row that
    // certifies the BqRerankDepth default cross-engine.
    "q_autotune_bq_depth" -> autotuneOracleSql(
      "autotune_bq_arms", BqDepthArms, AutoTuneTarget,
      LshQueries.L2DistSql),


    // SQ depth sweep: identical decision replay, L2 GT — the row that
    // certifies the SqRerankDepth default cross-engine.
    "q_autotune_sq_depth" -> autotuneOracleSql(
      "autotune_sq_arms", SqDepthArms, AutoTuneTarget,
      LshQueries.L2DistSql),


    // Delete view (IVF): per-pair recompute + tombstone re-check.
    "q_ivf_search_deleted" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_deleted/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       (abs(exact - dist) < 1e-9 AND vec_id % 7 <> 0) AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Every returned angular-IVF row re-verified from the raw embeddings
    // (cosine is scale-invariant, so DuckDB recomputes it from the
    // unnormalized vectors directly, zero-clamped like cosineDistNative).
    "q_ivf_search_cosine" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivf_cosine/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    "q_ivf_recall" -> LshQueries.recallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivf_recall_l2/*.parquet",
      LshQueries.L2DistSql, None, K),


    // Every returned IVF-PQ rerank row re-verified from the raw
    // embeddings (rerank distances are exact by construction, so a
    // mismatch means a broken encode/probe/rerank path).
    "q_ivfpq_search_l2" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_l2/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Distributed-fit twin: same per-pair distance recompute, over the
    // distfit dump (the q_ivf_search_l2_distfit treatment for IVF-PQ).
    "q_ivfpq_search_l2_distfit" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_l2_distfit/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Filtered IVF-PQ: per-pair distance recompute PLUS the predicate
    // re-checked on every returned id.
    "q_ivfpq_search_filtered" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_filtered/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       (abs(exact - dist) < 1e-9 AND vec_id % 2 = 0) AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Every returned angular-IVF-PQ rerank row re-verified from the raw
    // embeddings: rerank distances are exact cosine by construction, so
    // DuckDB recomputes each pair's cosine (zero-clamped like
    // cosineDistNative) and re-derives `valid`.
    "q_ivfpq_search_cosine" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_cosine/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Both IVF-PQ prediction dumps graded against DuckDB's own exact-NN
    // ground truth (same helper as q_pq_recall — the delta between the
    // two oracles is only the dump paths).
    "q_ivfpq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_adc/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfpq_rerank/*.parquet", K),


    "q_ivfpq_code_stats" ->
      s"""WITH c AS (
         |  SELECT * FROM read_parquet('$CodeDumpRoot/sf0.01/*.parquet')
         |),
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |st AS (
         |  SELECT cell, count(*)::BIGINT AS n_vectors,
         |         sum(CASE WHEN len(codes) = ${ivfPqConfig.numSubvectors}
         |             THEN 0 ELSE 1 END)::BIGINT AS bad
         |  FROM c GROUP BY cell
         |),
         |inv AS (SELECT sum(n_vectors)::BIGINT AS tot, count(*) AS nc,
         |               sum(bad)::BIGINT AS badtot FROM st)
         |SELECT st.cell, st.n_vectors,
         |       inv.tot = nv.n AS total_ok,
         |       inv.nc <= ${ivfPqConfig.nCells} AS cell_count_ok,
         |       inv.badtot = 0 AS codes_len_ok
         |FROM st, inv, nv ORDER BY st.cell""".stripMargin,


    // IVF-OPQ: same dual-dump regrade as q_ivfpq_recall — DuckDB
    // recomputes its own exact GT and grades both the rotated-space ADC
    // predictions and the original-space rerank predictions, so the
    // rotation's candidate-generation delta vs q_ivfpq_recall is itself
    // cross-engine.
    "q_ivfopq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfopq_adc/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfopq_rerank/*.parquet", K),


    // Both PQ prediction dumps graded against DuckDB's own exact-NN
    // ground truth (LshQueries.dualRecallOracle mirrors
    // Eval.setPrecisionRecall's join shapes exactly).
    "q_pq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/pq_adc/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/pq_rerank/*.parquet", K),


    // Same grading machinery, columns renamed to the pair under
    // comparison: DuckDB recomputes exact GT and both recalls from the
    // two prediction dumps — the OPQ-vs-PQ verdict is cross-engine.
    "q_opq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/opq_pq_adc/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/opq_adc/*.parquet", K,
      adcName = "pq_recall", rerankName = "opq_recall"),


    // The IVF-SQ code check: DuckDB re-encodes EVERY vector from the
    // raw embeddings (the SQ bounds are deterministic min/max — no seed,
    // no sample) and aggregates its own per-cell weighted code sum over
    // the dumped (vec_id -> cell) assignment; the dumped codes never
    // feed the oracle's sum, so a wrong code on the Spark side breaks
    // the cell row cross-engine. Cell invariants ride along.
    "q_ivfsq_codes" ->
      s"""WITH dim AS (
         |  SELECT unnest(embedding::DOUBLE[]) AS x,
         |         unnest(range(len(embedding))) AS i
         |  FROM embeddings
         |),
         |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dim GROUP BY i),
         |mml AS (
         |  SELECT list(mn ORDER BY i) AS mins,
         |         list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn)/255 END ORDER BY i) AS scales
         |  FROM mm
         |),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      (x, i) -> CASE WHEN scales[i] = 0 THEN 0
         |                ELSE least(greatest(floor((x - mins[i])/scales[i] + 0.5), 0), 255)::INT END) AS codes
         |  FROM embeddings, mml
         |),
         |d AS (SELECT vec_id, cell FROM read_parquet('$IvfSqCodeDumpRoot/sf0.01/*.parquet')),
         |w AS (
         |  SELECT d.cell, e.vec_id,
         |    (SELECT sum(c * (ci + 1)) FROM (
         |       SELECT unnest(e.codes) AS c, unnest(range(len(e.codes))) AS ci)) AS ws
         |  FROM d JOIN enc e USING (vec_id)
         |),
         |st AS (
         |  SELECT cell, count(*)::BIGINT AS n_vectors, sum(ws)::BIGINT AS code_wsum
         |  FROM w GROUP BY cell
         |),
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |inv AS (SELECT sum(n_vectors)::BIGINT AS tot, count(*) AS nc FROM st)
         |SELECT st.cell, st.n_vectors, st.code_wsum,
         |       inv.tot = nv.n AS total_ok,
         |       inv.nc <= ${ivfSqConfig.nCells} AS cell_count_ok
         |FROM st, inv, nv ORDER BY st.cell""".stripMargin,


    // Every returned IVF-SQ rerank row re-verified from the raw
    // embeddings (rerank distances are exact by construction).
    "q_ivfsq_search_l2" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_l2/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Distributed-fit twin: same per-pair distance recompute, over the
    // distfit dump.
    "q_ivfsq_search_l2_distfit" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_l2_distfit/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // Filtered IVF-SQ: per-pair distance recompute PLUS the predicate
    // re-checked on every returned id (same gate as
    // q_ivfpq_search_filtered).
    "q_ivfsq_search_filtered" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_filtered/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       (abs(exact - dist) < 1e-9 AND vec_id % 2 = 0) AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    "q_ivfsq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_scan/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_rerank/*.parquet", K),


    // Every returned angular-IVF-SQ rerank row re-verified: DuckDB
    // recomputes each pair's cosine (zero-clamped like cosineDistNative)
    // and re-derives `valid`.
    "q_ivfsq_search_cosine" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/ivfsq_cosine/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    // DuckDB refits the SQ bounds (exact per-dim min/max via zip-unnest)
    // and re-encodes every vector with the same floor(x/s + 0.5) half-up
    // rule — a full cross-engine recompute of the index build, possible
    // because the SQ fit is deterministic and sample-free. Unnested to
    // one scalar row per code to match the Spark side's posexplode.
    "q_sq_codes" ->
      """WITH dim AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS x,
        |         unnest(range(len(embedding))) AS i
        |  FROM embeddings
        |),
        |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dim GROUP BY i),
        |mml AS (
        |  SELECT list(mn ORDER BY i) AS mins,
        |         list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn)/255 END ORDER BY i) AS scales
        |  FROM mm
        |),
        |enc AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      (x, i) -> CASE WHEN scales[i] = 0 THEN 0
        |                ELSE least(greatest(floor((x - mins[i])/scales[i] + 0.5), 0), 255)::INT END) AS codes
        |  FROM embeddings, mml
        |)
        |SELECT vec_id, unnest(range(len(codes))) AS pos, unnest(codes) AS code
        |FROM enc ORDER BY vec_id, pos""".stripMargin,


    // Lifecycle replay: DuckDB refits the FROZEN bounds from the
    // ORIGINAL corpus, applies the same rule-derived delete + upsert
    // script (dead ≡ UpsertDeadRem, updated ≡ UpsertUpdRem take the
    // embedding of (vec_id × UpsertSrcMul) mod n), and re-encodes the
    // final table — a wrong row anywhere (a refit sneaking in, a
    // tombstone surviving, an upsert double-row) breaks the hash.
    "q_sq_upsert_codes" ->
      s"""WITH dim AS (
         |  SELECT unnest(embedding::DOUBLE[]) AS x,
         |         unnest(range(len(embedding))) AS i
         |  FROM embeddings
         |),
         |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dim GROUP BY i),
         |mml AS (
         |  SELECT list(mn ORDER BY i) AS mins,
         |         list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn)/255 END ORDER BY i) AS scales
         |  FROM mm
         |),
         |n AS (SELECT count(*) AS c FROM embeddings),
         |fin AS (
         |  SELECT e.vec_id,
         |         CASE WHEN e.vec_id % $UpsertMod = $UpsertUpdRem
         |              THEN s.embedding ELSE e.embedding END AS embedding
         |  FROM embeddings e
         |  CROSS JOIN n
         |  LEFT JOIN embeddings s
         |    ON s.vec_id = (e.vec_id * $UpsertSrcMul) % n.c
         |  WHERE e.vec_id % $UpsertMod <> $UpsertDeadRem
         |),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      (x, i) -> CASE WHEN scales[i] = 0 THEN 0
         |                ELSE least(greatest(floor((x - mins[i])/scales[i] + 0.5), 0), 255)::INT END) AS codes
         |  FROM fin, mml
         |)
         |SELECT vec_id, unnest(range(len(codes))) AS pos, unnest(codes) AS code
         |FROM enc ORDER BY vec_id, pos""".stripMargin,


    // The drift-loop refit, re-derived from scratch: DuckDB rebuilds
    // the live corpus from the same rules (tail arrivals shifted
    // +RefitShift, base ids = 0 mod RefitDeadMod deleted), re-fits the
    // min/max bounds on it, and re-encodes every live row — the
    // q_sq_codes gate applied to refitAndSwap's output.
    "q_sq_refit_codes" ->
      s"""WITH live AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb
         |  FROM embeddings
         |  WHERE vec_id < $InsertFrom AND vec_id % $RefitDeadMod != 0
         |  UNION ALL
         |  SELECT vec_id, list_transform(embedding::DOUBLE[],
         |                                x -> x + $RefitShift) AS emb
         |  FROM embeddings WHERE vec_id >= $InsertFrom
         |),
         |dim AS (
         |  SELECT unnest(emb) AS x, unnest(range(len(emb))) AS i FROM live
         |),
         |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dim GROUP BY i),
         |mml AS (
         |  SELECT list(mn ORDER BY i) AS mins,
         |         list(CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn)/255 END ORDER BY i) AS scales
         |  FROM mm
         |),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(emb,
         |      (x, i) -> CASE WHEN scales[i] = 0 THEN 0
         |                ELSE least(greatest(floor((x - mins[i])/scales[i] + 0.5), 0), 255)::INT END) AS codes
         |  FROM live, mml
         |)
         |SELECT vec_id, unnest(range(len(codes))) AS pos, unnest(codes) AS code
         |FROM enc ORDER BY vec_id, pos""".stripMargin,


    // Every returned SQ rerank row re-verified from the raw embeddings
    // (rerank distances are exact by construction).
    "q_sq_search_l2" ->
      s"""WITH d AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/sq_l2/*.parquet')
         |),
         |r AS (
         |  SELECT d.query_id, d.vec_id, d.dist,
         |         round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS exact
         |  FROM d
         |  JOIN embeddings e ON e.vec_id = d.vec_id
         |  JOIN embeddings q ON q.vec_id = d.query_id
         |)
         |SELECT query_id, vec_id, dist,
         |       abs(exact - dist) < 1e-9 AS valid
         |FROM r ORDER BY query_id, dist, vec_id""".stripMargin,


    "q_sq_recall" -> LshQueries.dualRecallOracle(
      s"${LshQueries.SearchDumpRoot}/sf0.01/sq_adc/*.parquet",
      s"${LshQueries.SearchDumpRoot}/sf0.01/sq_rerank/*.parquet", K),


    // Full cross-engine recompute of the BQ build: DuckDB refits the
    // midrange thresholds and repacks every sign bit (no dump, no
    // tolerance — the fit is order-independent by construction).
    // Unnested to one scalar row per packed word (the posexplode twin).
    "q_bq_codes" ->
      s"""WITH $bqCodesSql
         |SELECT vec_id, unnest(range(len(codes))) AS pos,
         |       unnest(codes) AS code
         |FROM bq ORDER BY vec_id, pos""".stripMargin,


    // Full cross-engine recompute of the Hamming SEARCH: integer
    // distances + deterministic (hamming, vec_id) tie-break mean DuckDB
    // re-derives the exact same top-k rows, not a dump re-check.
    "q_bq_search_hamming" ->
      s"""WITH $bqCodesSql,
         |${bqHammingSql(K)}
         |SELECT query_id, vec_id, hamming FROM cand
         |ORDER BY query_id, hamming, vec_id""".stripMargin,


    // Full cross-engine recompute of the rerank pipeline: DuckDB
    // re-derives the depth-$BqRerankDepth Hamming candidate set AND the
    // exact-L2 top-k over it.
    "q_bq_search_l2" ->
      s"""WITH $bqCodesSql,
         |${bqHammingSql(BqRerankDepth)},
         |rr AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS dist
         |  FROM cand c
         |  JOIN bq e ON e.vec_id = c.vec_id
         |  JOIN bq q ON q.vec_id = c.query_id
         |)
         |SELECT query_id, vec_id, dist FROM (
         |  SELECT query_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |  FROM rr
         |) WHERE rn <= $K ORDER BY query_id, dist, vec_id""".stripMargin,


    // Scan-vs-rerank recall graded wholly inside DuckDB: exact ground
    // truth, both prediction sets and both averages re-derived (the
    // aggregation shape mirrors Eval.setPrecisionRecall /
    // dualRecallOracle: n_pred inner-joined, hits coalesced to 0).
    "q_bq_recall" ->
      s"""WITH $bqCodesSql,
         |${bqHammingSql(BqRerankDepth)},
         |gq AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM bq ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
         |),
         |gsc AS (
         |  SELECT gq.query_id, e.vec_id,
         |    round(list_distance(gq.qv, e.embedding::DOUBLE[]), 6) AS dist
         |  FROM gq CROSS JOIN bq e
         |),
         |gt AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |    FROM gsc
         |  ) WHERE rn <= $K
         |),
         |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
         |pa AS (SELECT query_id, vec_id FROM cand WHERE rn <= $K),
         |npa AS (SELECT query_id, count(*) AS n_pred FROM pa GROUP BY query_id),
         |ha AS (
         |  SELECT pa.query_id, count(*) AS valid
         |  FROM pa JOIN gt USING (query_id, vec_id) GROUP BY pa.query_id
         |),
         |ra AS (
         |  SELECT round(avg(round(coalesce(ha.valid, 0) / ng.n_gt, 6)), 4) AS scan_recall
         |  FROM npa JOIN ng USING (query_id) LEFT JOIN ha USING (query_id)
         |),
         |rr AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS dist
         |  FROM cand c
         |  JOIN bq e ON e.vec_id = c.vec_id
         |  JOIN bq q ON q.vec_id = c.query_id
         |),
         |pb AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |    FROM rr
         |  ) WHERE rn <= $K
         |),
         |npb AS (SELECT query_id, count(*) AS n_pred FROM pb GROUP BY query_id),
         |hb AS (
         |  SELECT pb.query_id, count(*) AS valid
         |  FROM pb JOIN gt USING (query_id, vec_id) GROUP BY pb.query_id
         |),
         |rb AS (
         |  SELECT round(avg(round(coalesce(hb.valid, 0) / ng.n_gt, 6)), 4) AS rerank_recall
         |  FROM npb JOIN ng USING (query_id) LEFT JOIN hb USING (query_id)
         |)
         |SELECT ra.scan_recall, rb.rerank_recall FROM ra, rb""".stripMargin,


    // BQ cosine rerank, fully recomputed: same Hamming candidate set,
    // exact-cosine top-k over it (zero-clamped like cosineDistNative).
    "q_bq_search_cosine" ->
      s"""WITH $bqCodesSql,
         |${bqHammingSql(BqRerankDepth)},
         |rr AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM cand c
         |  JOIN bq e ON e.vec_id = c.vec_id
         |  JOIN bq q ON q.vec_id = c.query_id
         |)
         |SELECT query_id, vec_id, dist FROM (
         |  SELECT query_id, vec_id, dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |  FROM rr
         |) WHERE rn <= $K ORDER BY query_id, dist, vec_id""".stripMargin,
  )

  /** Shared auto-tune decision-replay SQL (DuckDB): recompute the exact
    * GT under `distSql` (which may reference `qs` as the query side and
    * `e` as the corpus row), re-derive every arm's avg recall from the
    * combined prediction dump at `dumpSub`, grading FROM THE GT SIDE
    * (arms × every validation query; missing predictions coalesce to
    * recall 0 — the AutoTune.gradeArms rule), and replay the
    * cheapest-arm-meeting-target choice. */
  private[queries] def autotuneOracleSql(dumpSub: String, arms: Seq[Int],
                                target: Double, distSql: String,
                                corpusWhere: String = ""): String =
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |),
       |sc AS (
       |  SELECT qs.query_id, e.vec_id, $distSql AS dist
       |  FROM qs CROSS JOIN (SELECT * FROM embeddings $corpusWhere) e
       |),
       |gt AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM sc
       |  ) WHERE rn <= $K
       |),
       |p AS (
       |  SELECT arm, query_id, vec_id
       |  FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/$dumpSub/*.parquet')
       |),
       |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
       |arms AS (SELECT unnest([${arms.mkString(", ")}]) AS arm),
       |h AS (
       |  SELECT p.arm, p.query_id, count(*) AS valid
       |  FROM p JOIN gt USING (query_id, vec_id) GROUP BY p.arm, p.query_id
       |),
       |pr AS (
       |  SELECT arms.arm, ng.query_id,
       |         round(coalesce(h.valid, 0) / ng.n_gt, 6) AS recall
       |  FROM arms CROSS JOIN ng
       |  LEFT JOIN h ON h.arm = arms.arm AND h.query_id = ng.query_id
       |),
       |g AS (
       |  SELECT arm, round(avg(recall), 4) AS avg_recall,
       |         count(*) AS n_queries
       |  FROM pr GROUP BY arm
       |),
       |c AS (
       |  SELECT min(CASE WHEN avg_recall >= $target THEN arm END)
       |           AS first_meeting,
       |         max(arm) AS last_arm
       |  FROM g
       |)
       |SELECT g.arm, g.avg_recall, g.n_queries,
       |       g.arm = coalesce(c.first_meeting, c.last_arm) AS chosen
       |FROM g CROSS JOIN c ORDER BY arm""".stripMargin
}