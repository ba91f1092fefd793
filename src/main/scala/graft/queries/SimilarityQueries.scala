package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.ExactNN
import graft.ann.ivf.{Ivf, IvfConfig}
import graft.ann.lsh.{Lsh, LshConfig, LshIndex}
import graft.eval.Eval
import graft.functions.exprs

/** Embedding-space near-duplicate detection + IVF similarity search over
  * `embeddings.parquet` — the vector half of the LLM-pipeline dedup
  * surface (the text half lives in [[TextQueries]]).
  *
  * `q_embedding_near_dup` is the exact quadratic baseline (oracle-checked
  * against DuckDB's list_cosine_similarity); `q_lsh_near_dup_pairs` is
  * the scale path — LSH-bucket candidate generation then exact cosine
  * verification. Its pairs are dumped to parquet and the DuckDB oracle
  * recomputes every pair's cosine from the embeddings table (subset-of-
  * exact-near-dup-set + distance check, cross-engine); the seeded
  * bucketing internals stay property-tested (LshIndexSpec).
  */
object SimilarityQueries extends QueryPack {

  /** Cosine near-dup threshold: planted near-dup pairs in the testdata
    * sit at dist ~0.49-0.55; the background distribution starts ~0.62. */
  val CosineDupThreshold = 0.55
  val K = VectorQueries.K

  /** `q_semdedup`'s own (vec_id, cell) dump — same assignment as
    * [[CellDumpRoot]] (same seeded config) but a separate path, because
    * Verify runs queries concurrently and two queries overwriting one
    * dump directory would race. */
  def SemDedupDumpRoot: String = s"${QueryPack.dumpRoot}/graft_semdedup_dump"

  /** `q_diverse_sample`'s dumps: the (vec_id, cell) assignment plus the
    * centroid table, so DuckDB can re-derive every selection distance
    * and replay the quota rule from raw embeddings. */
  def DiverseDumpRoot: String = s"${QueryPack.dumpRoot}/graft_diverse_dump"

  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")

  /** Memoized corpus row count / max id — several graph-family serves
    * re-ran the same one-row aggregate per call (one scheduled job
    * each at board scale); the table is immutable for a (session, sf),
    * so the value is a shared build like any other. */
  private[queries] def embCount(s: SparkSession, dir: String): Long = {
    val e = emb(s, dir)
    memoized(s, dir, "emb_count") {
      java.lang.Long.valueOf(e.count())
    }.longValue()
  }
  private[queries] def embMaxId(s: SparkSession, dir: String): Long = {
    val e = emb(s, dir)
    memoized(s, dir, "emb_max_id") {
      java.lang.Long.valueOf(
        e.agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0))
    }.longValue()
  }

  /** The SemDeDup within-cell prune (see `q_semdedup`): per cell,
    * n_vectors / n_dropped / drop_ratio under the deterministic min-id
    * keep rule, plus the assignment-completeness invariant. `cells` is
    * (vec_id, cell); `e` the embeddings table; `nVecs` its row count.
    * The only join fan-out is within-cell (cell-keyed self-join) — the
    * cluster-bounded quadratic that is the method's own scale story. */
  private[queries] def semdedupSummary(cells: DataFrame, e: DataFrame,
                                       nVecs: Long): DataFrame = {
    val withVec = cells.join(e.select(col("vec_id"), col("embedding")), "vec_id")
    val a = withVec.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = withVec.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .where(round(exprs.cosineDistNative(col("ea"), col("eb")), 6)
        <= CosineDupThreshold)
      .select(col("cell"), col("vec_b")).distinct()
    val byCell = cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val drops = dropped.groupBy("cell").agg(count(lit(1)).as("n_dropped"))
    val inv = byCell.agg(sum("n_vectors").as("tot"))
    byCell.join(drops, Seq("cell"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .crossJoin(inv)
      .select(col("cell"), col("n_vectors"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_vectors"), 6)
          .as("drop_ratio"),
        (col("tot") === nVecs).as("total_ok"))
  }

  private[queries] def queriesDf(e: DataFrame): DataFrame =
    e.orderBy("vec_id").limit(VectorQueries.NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Shared exact ground truth over the standard query set — one
    * corpus scan per (session, sf, metric) instead of one per recall
    * query: seven L2 recall queries plus the autotune sweep each
    * re-derived the identical (query_id, vec_id, dist) frame per run
    * (~1 s × 8 of board time at sf0.1). The DuckDB oracles recompute
    * their OWN ground truth regardless, so sharing changes no output. */
  private[queries] def exactGtL2(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "exact_gt_l2") {
      val e = emb(s, dir)
      ExactNN.topK(queriesDf(e), e, K, ExactNN.L2).localCheckpoint()
    }

  /** Cosine twin of [[exactGtL2]] (the graph family's metric). */
  private[queries] def exactGtCos(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "exact_gt_cos") {
      val e = emb(s, dir)
      ExactNN.topK(queriesDf(e), e, K, ExactNN.Cosine).localCheckpoint()
    }
  // ivfIdx's memo home moved to [[CompressedQueries]] with the family;
  // the two consumers here route through it (one build either way)
  private def ivfIdx(s: SparkSession, dir: String): graft.ann.ivf.IvfIndex =
    CompressedQueries.ivfIdx(s, dir)


  /** Shared cross-set similarity-join pairs (even-id set indexed, odd-id
    * set probing) — consumed by `q_lsh_sim_join` (per-pair distance
    * gate) and `q_lsh_sim_join_recall` (completeness grade), each with
    * its own dump path. */
  private def simJoinPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "lsh_sim_join_pairs") {
      val e = emb(s, dir)
      val a = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val b = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val idx = Lsh.train(a, "vec_id", "embedding",
        LshConfig(nTrees = 10, kMinVecs = 50, angular = true, seed = 42L))
      idx.similarityJoin(b, "vec_id", "embedding", CosineDupThreshold,
          ExactNN.Cosine, maxBucketOccupancy = 200)
        .localCheckpoint()
    }
  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact embedding near-dup pairs (quadratic baseline, oracle-checked).
    "q_embedding_near_dup" -> ((s, dir) => {
      val e = emb(s, dir)
      // the quadratic baseline's streamed side is ONE scan partition
      // (one small parquet file), so the O(n²) distance pass ran as a
      // single task while the other cores idled (measured: this query
      // was 2.5 s of one-task compute, 4 jobs total). Repartition the
      // streamed side to the session's parallelism — scale-adaptive,
      // not a constant — so the BroadcastNestedLoopJoin's distance
      // work is partition-parallel; row set unchanged.
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(exprs.cosineDistNative(col("ea"), col("eb")), 6).as("cos_dist"))
        .where(col("cos_dist") <= CosineDupThreshold)
        .orderBy("vec_a", "vec_b")
    }),


    // Scale path: LSH-bucket candidates -> exact cosine verify. Bucket
    // join shuffles on (tree_id, hash), never all-pairs; the per-bucket
    // occupancy cap (LshIndex.cappedBuckets) bounds join fan-out even in
    // the corpus >> fit-sample regime, where kMinVecs alone does not
    // bound bucket size. The cap is far above any bucket at test scale,
    // so results here are identical to uncapped.
    "q_lsh_near_dup_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Lsh.train(e, "vec_id", "embedding",
        LshConfig(nTrees = 10, kMinVecs = 50, angular = true, seed = 42L))
      val cands = idx.candidatePairs(maxBucketOccupancy = 200)
      val pairs = cands
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(exprs.cosineDistNative(col("ea"), col("eb")), 6).as("cos_dist"))
        .where(col("cos_dist") <= CosineDupThreshold)
        // `within` is trivially true here (the line above filtered on it)
        // — it exists so the DuckDB oracle, which RECOMPUTES each pair's
        // cosine from the embeddings table, re-derives the same boolean:
        // a wrong Spark-side distance or an over-threshold pair breaks
        // the cross-engine hash. pairs ⊆ exact-near-dup-set follows.
        .withColumn("within", col("cos_dist") <= CosineDupThreshold)
      LshQueries.dumpAndReload(s, pairs,
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/lsh_near_dup")
        .orderBy("vec_a", "vec_b")
    }),


    // Cross-set LSH similarity join (LshIndex.similarityJoin — SURVEY
    // §7.5's "LSH join of two embedding sets", the record-linkage /
    // cross-corpus shape): set B (odd vec_ids) probes the forest fitted
    // on set A (even vec_ids), same-bucket candidates exact-verified
    // under the near-dup threshold. Every returned pair carries the
    // exact cosine, so DuckDB recomputes each distance + the within
    // flag from the raw embeddings (pairs ⊆ the exact cross-set
    // near-dup set — the q_lsh_near_dup_pairs gate, cross-set form).
    "q_lsh_sim_join" -> ((s, dir) => {
      val pairs = simJoinPairs(s, dir)
      LshQueries.dumpAndReload(s,
          pairs.withColumn("within", col("dist") <= CosineDupThreshold),
          s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/lsh_sim_join")
        .orderBy("vec_a", "vec_b")
    }),


    // Completeness grade for the cross-set join: found ⊆ exact by
    // construction (the verified-threshold filter), so recall =
    // |found| / |exact cross-set pairs under the threshold|. DuckDB
    // re-derives BOTH sides — the exact set from the raw embeddings
    // (quadratic cross-parity join), the found count from this query's
    // own dump.
    "q_lsh_sim_join_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val found = LshQueries.dumpAndReload(s, simJoinPairs(s, dir),
        s"${LshQueries.SearchDumpRoot}/${LshQueries.sfName(dir)}/lsh_sim_join_rec")
      val exact = e.where(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.where(pmod(col("vec_id"), lit(2)) === 1)
          .select(col("vec_id").as("vec_b"), col("embedding").as("eb")))
        .where(round(exprs.cosineDistNative(col("ea"), col("eb")), 6)
          <= CosineDupThreshold)
      found.agg(count(lit(1)).as("n_found"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("n_found"), col("n_exact"),
          round(col("n_found").cast("double") / col("n_exact"), 4)
            .as("sim_recall"))
    }),


    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication = k-means cluster the embedding space, then drop
    // within-cluster near-duplicates by cosine. The clusters BOUND the
    // quadratic — pairs form only inside a cell (cell-keyed self-join,
    // never corpus all-pairs), which is the published method's own
    // 100 TB story: grow nCells with the corpus so cell occupancy stays
    // flat. Deterministic keep rule: a vector is dropped iff a
    // LOWER-vec_id vector in the same cell sits within
    // CosineDupThreshold (keep-the-min-id representative). The seeded
    // k-means fit is gated by the (vec_id, cell) dump: DuckDB re-derives
    // every within-cell pair's cosine, the drop set, and the per-cell
    // summary from the dump + raw embeddings (total_ok additionally
    // proves the assignment is complete, so no pair can hide).
    "q_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = ivfIdx(s, dir)
      val dump = s"$SemDedupDumpRoot/${LshQueries.sfName(dir)}"
      idx.cells.write.mode("overwrite").parquet(dump)
      semdedupSummary(s.read.parquet(dump), e, e.count()).orderBy("cell")
    }),


    // Diversity-preserving coreset subsample — the curation step that
    // caps redundant regions while keeping coverage: per IVF cell keep
    // the ceil(sqrt(n_cell)) vectors CLOSEST to the centroid (quota
    // sublinear in cell mass downweights dense regions; closest-to-
    // centroid = the cell's most representative members; ties by
    // vec_id). Scale shape: distances are one broadcast-centroid
    // map-side pass; the per-cell cut is the bounded TopK aggregator
    // at the GLOBAL max quota (fixed by one driver-side agg), then the
    // per-cell quota filter — no corpus-wide or per-cell full sort.
    // Cells + centroids are dumped so DuckDB re-derives every
    // selection distance from raw embeddings and replays rank + quota.
    "q_diverse_sample" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val idx = ivfIdx(s, dir)
      val dump = s"$DiverseDumpRoot/${LshQueries.sfName(dir)}"
      idx.cells.write.mode("overwrite").parquet(s"$dump/cells")
      idx.model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(s"$dump/centroids")
      val cells = s.read.parquet(s"$dump/cells")
      val cents = s.read.parquet(s"$dump/centroids")
      // one distance pass: the TopK cut re-reads the checkpoint, and
      // the per-cell counts (<= nCells rows) collect once to both fix
      // the global cap and feed the quota join as a local relation
      val withDist = cells
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(cents), "cell")
        .select(col("cell"), col("vec_id"),
          round(exprs.l2DistNative(col("embedding").cast("array<double>"),
            col("centroid")), 6).as("dist"))
        .localCheckpoint()
      val quotaRows = withDist.groupBy("cell")
        .agg(count(lit(1)).as("n_cell")).collect()
      val quotas = quotaRows.map(r => (r.getInt(0), r.getLong(1))).toSeq
        .toDF("cell", "n_cell")
      val maxQuota = math.ceil(math.sqrt(
        quotaRows.map(_.getLong(1)).max.toDouble)).toInt
      withDist
        .groupBy("cell")
        .agg(graft.ann.TopK.topK(maxQuota)(col("vec_id"), col("dist")).as("nn"))
        .select(col("cell"), posexplode(col("nn")))
        .select(col("cell"), (col("pos") + 1).cast("long").as("rank"),
          col("col.vec_id").as("vec_id"), col("col.dist").as("dist"))
        .join(broadcast(quotas), "cell")
        .where(col("rank") <= ceil(sqrt(col("n_cell"))))
        .select(col("cell"), col("rank"), col("vec_id"), col("dist"),
          col("n_cell"))
        .orderBy("cell", "rank")
    }),
  )

  override def oracleSql: Map[String, String] = Map(

    // Coreset selection replayed end to end: DuckDB recomputes every
    // vector's distance to its own cell centroid from raw embeddings
    // (dumped assignment + dumped centroids), ranks within cell with
    // the same (dist, vec_id) tie rule, and applies the same
    // ceil(sqrt(n_cell)) quota — a wrong distance, rank, or quota
    // anywhere breaks the row hash.
    "q_diverse_sample" ->
      s"""WITH c AS (
         |  SELECT * FROM read_parquet('$DiverseDumpRoot/sf0.01/cells/*.parquet')
         |),
         |ct AS (
         |  SELECT * FROM read_parquet('$DiverseDumpRoot/sf0.01/centroids/*.parquet')
         |),
         |d AS (
         |  SELECT c.cell, c.vec_id,
         |         round(list_distance(e.embedding::DOUBLE[], ct.centroid), 6) AS dist
         |  FROM c JOIN embeddings e USING (vec_id) JOIN ct USING (cell)
         |),
         |n AS (SELECT cell, count(*) AS n_cell FROM d GROUP BY cell),
         |r AS (
         |  SELECT cell, vec_id, dist,
         |         row_number() OVER (PARTITION BY cell
         |                            ORDER BY dist, vec_id) AS rank
         |  FROM d
         |)
         |SELECT r.cell, r.rank, r.vec_id, r.dist, n.n_cell
         |FROM r JOIN n USING (cell)
         |WHERE r.rank <= ceil(sqrt(n.n_cell))
         |ORDER BY r.cell, r.rank""".stripMargin,


    // Every dumped candidate pair re-verified from the raw embeddings:
    // DuckDB recomputes the exact cosine (hash-compared against the
    // Spark-side cos_dist) and re-derives `within` — together these
    // prove pairs ⊆ the exact near-dup set at the same threshold.
    "q_lsh_near_dup_pairs" ->
      s"""WITH p AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/lsh_near_dup/*.parquet')
         |),
         |r AS (
         |  SELECT p.vec_a, p.vec_b,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS cos_dist
         |  FROM p
         |  JOIN embeddings a ON a.vec_id = p.vec_a
         |  JOIN embeddings b ON b.vec_id = p.vec_b
         |)
         |SELECT vec_a, vec_b, cos_dist, cos_dist <= $CosineDupThreshold AS within
         |FROM r ORDER BY vec_a, vec_b""".stripMargin,


    // Cross-set join: every dumped pair's cosine recomputed from the
    // raw embeddings (same per-pair gate as q_lsh_near_dup_pairs).
    "q_lsh_sim_join" ->
      s"""WITH p AS (
         |  SELECT * FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/lsh_sim_join/*.parquet')
         |),
         |r AS (
         |  SELECT p.vec_a, p.vec_b,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM p
         |  JOIN embeddings a ON a.vec_id = p.vec_a
         |  JOIN embeddings b ON b.vec_id = p.vec_b
         |)
         |SELECT vec_a, vec_b, dist, dist <= $CosineDupThreshold AS within
         |FROM r ORDER BY vec_a, vec_b""".stripMargin,


    // Both sides re-derived: the exact cross-parity pair set from the
    // raw embeddings, the found count from the dump.
    "q_lsh_sim_join_recall" ->
      s"""WITH f AS (
         |  SELECT count(*) AS n
         |  FROM read_parquet('${LshQueries.SearchDumpRoot}/sf0.01/lsh_sim_join_rec/*.parquet')
         |),
         |x AS (
         |  SELECT count(*) AS n
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
         |  WHERE round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |        THEN 0.0
         |        ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6)
         |        <= $CosineDupThreshold
         |)
         |SELECT f.n AS n_found, x.n AS n_exact,
         |       round(f.n::DOUBLE / x.n, 4) AS sim_recall
         |FROM f, x""".stripMargin,


    // The whole SemDeDup chain re-derived in DuckDB from the dumped
    // assignment: within-cell pairs, exact cosines, the min-id drop
    // rule, the per-cell summary, and the completeness invariant.
    "q_semdedup" ->
      s"""WITH c AS (
         |  SELECT * FROM read_parquet('$SemDedupDumpRoot/sf0.01/*.parquet')
         |),
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |pr AS (
         |  SELECT ca.cell, cb.vec_id AS vec_b
         |  FROM c ca JOIN c cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |  JOIN embeddings a ON a.vec_id = ca.vec_id
         |  JOIN embeddings b ON b.vec_id = cb.vec_id
         |  WHERE round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |        THEN 0.0
         |        ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6)
         |        <= $CosineDupThreshold
         |),
         |dr AS (SELECT cell, count(DISTINCT vec_b) AS n_dropped FROM pr GROUP BY cell),
         |st AS (SELECT cell, count(*)::BIGINT AS n_vectors FROM c GROUP BY cell),
         |inv AS (SELECT sum(n_vectors)::BIGINT AS tot FROM st)
         |SELECT st.cell, st.n_vectors,
         |       coalesce(dr.n_dropped, 0)::BIGINT AS n_dropped,
         |       round(coalesce(dr.n_dropped, 0)::DOUBLE / st.n_vectors, 6) AS drop_ratio,
         |       inv.tot = nv.n AS total_ok
         |FROM st LEFT JOIN dr USING (cell), inv, nv
         |ORDER BY st.cell""".stripMargin,


    "q_embedding_near_dup" ->
      s"""WITH d AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(CASE WHEN 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 1e-6
         |          THEN 0.0
         |          ELSE 1.0 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) END, 6) AS cos_dist
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b, cos_dist FROM d
         |WHERE cos_dist <= $CosineDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,
  )
}