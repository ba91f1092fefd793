package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.ann.ExactNN
import graft.functions.exprs

/** Vector-search query surface over `embeddings.parquet`
  * (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).
  *
  * Covers the reference operators: parquet ingestion + projection
  * (O20/O21), per-vector norms (annbench/annbench.go:241), global value
  * range (O19, annbench/annbench.go:127-141), and the flagship exact-NN
  * top-k (O14 + O13c/d/f, annbench/annbench.go:56-125) for both metrics.
  *
  * Distances are rounded to 6 decimals on BOTH engines so the driver's
  * hash compare is immune to double-precision fold noise; ordering uses
  * the rounded value with vec_id tiebreak (SURVEY.md §7.4).
  */
object VectorQueries extends QueryPack {

  /** Number of query vectors for the NN benchmarks: the 100 lowest vec_ids. */
  val NumQueries = 100
  val K = 10

  private def queriesDf(emb: DataFrame): DataFrame =
    emb.orderBy("vec_id").limit(NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  def exactNn(s: SparkSession, dir: String, metric: ExactNN.Metric): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    ExactNN.topK(queriesDf(emb), emb, K, metric)
      .orderBy("query_id", "dist", "vec_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select("vec_id", "label").orderBy("vec_id")),

    "q_vec_norms" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), round(exprs.vecNormNative(col("embedding")), 6).as("norm"))
        .orderBy("vec_id")),

    "q_range_minmax" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(explode(col("embedding")).as("vf"))
        .select(col("vf").cast(DoubleType).as("v"))
        .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))),

    "q_exact_nn_l2" -> ((s, dir) => exactNn(s, dir, ExactNN.L2)),

    "q_exact_nn_cosine" -> ((s, dir) => exactNn(s, dir, ExactNN.Cosine)),

    // Per-vector scalar (int8-range) quantization: min/max calibration,
    // uniform 255-level codes — the 4x storage cut for embedding columns
    // at scale. Map-side only; emitted exploded as exact integers so the
    // cross-engine compare is float-free. A constant vector has range 0 —
    // guarded to code 0 (ANSI mode would otherwise throw on
    // round(0/0).cast(long)).
    //
    // mn/scale are materialized in their own projection BELOW the
    // transform: a lambda body is evaluated once per array ELEMENT with
    // no cross-invocation subexpression elimination, so inlining the
    // array_min/array_max scans there costs O(d^2) per row. `scale` is a
    // non-cheap producer referenced twice by the lambda, which stops
    // CollapseProject from folding the projection back in (the
    // Dedup.minhashSigFromHashes pattern, SCALE.md round 5). Pinned by
    // VectorPlanSpec: exactly one array_min / one array_max in the
    // optimized plan.
    "q_embedding_quantize" -> ((s, dir) => {
      val e = col("embedding").cast("array<double>")
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), e.as("e"), array_min(e).as("mn"), array_max(e).as("mx"))
        .select(col("vec_id"), col("e"), col("mn"),
          ((col("mx") - col("mn")) / lit(255.0)).as("scale"))
        .select(col("vec_id"),
          posexplode(transform(col("e"), x =>
            when(col("scale") === 0.0, lit(0L))
              .otherwise(round((x - col("mn")) / col("scale")).cast("long")))))
        .select(col("vec_id"), (col("pos") + 1).as("pos"), col("col").as("q"))
        .orderBy("vec_id", "pos")
    }),

    // Mean-pooled per-label centroids: the embedding-aggregation shape
    // (explode to (label, dim) -> partial+final avg; one shuffle keyed by
    // (label, pos) regardless of corpus size).
    "q_label_centroids" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).as("pos"))
        .agg(round(avg(col("col").cast(DoubleType)), 6).as("centroid"))
        .orderBy("label", "pos")),

    // Johnson–Lindenstrauss ±1 random projection 64d -> 16d (Achlioptas
    // 2003). The sign matrix is md5-derived, so DuckDB re-derives the
    // WHOLE projection and hash-compares every component — the strongest
    // (build-recompute) oracle form. Scan-side map, zero shuffle.
    "q_jl_project" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.stats.RandomProjection
            .projectCol(col("embedding"), JlDimsIn, JlDimsOut)))
        .select(col("vec_id"), (col("pos") + 1).as("pos"), col("col").as("pv"))
        .orderBy("vec_id", "pos")),

    // Matryoshka truncated-prefix serving (arXiv:2205.13147): candidates
    // on the first 16 of 64 components (4x fewer scan bytes / FLOPs,
    // pure slice projection), exact full-dim rerank of the top-30 per
    // query. Deterministic both stages, so DuckDB replays the WHOLE
    // pipeline (list slicing + list_distance) — zero dumps.
    "q_mrl_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.ann.Matryoshka
        .searchAll(queriesDf(e), e, K, MrlPrefixDims, MrlRerankDepth)
        .orderBy("query_id", "dist", "vec_id")
    }),

    // The MRL quality number: recall of the truncate-then-rerank result
    // vs the full-dim exact top-K (loss happens only when a true
    // neighbor ranks below rerankDepth in the prefix space).
    "q_mrl_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val pred = graft.ann.Matryoshka
        .searchAll(queriesDf(e), e, K, MrlPrefixDims, MrlRerankDepth)
      graft.eval.Eval.setPrecisionRecall(
          pred.select(col("query_id"), col("vec_id")),
          exactNn(s, dir, ExactNN.L2).select(col("query_id"), col("vec_id")))
        .agg(round(avg("recall"), 4).as("mrl_recall"),
          count(lit(1)).as("n_queries"))
    }),

    // Does the 4x-cheaper space still rank neighbors? Top-K L2 search in
    // the 16-d projected space graded against the 64-d exact top-K —
    // recall is the JL quality number, recomputed end-to-end by DuckDB
    // (projection included) with zero dumps.
    "q_jl_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val proj = e.select(col("vec_id"),
        graft.stats.RandomProjection
          .projectCol(col("embedding"), JlDimsIn, JlDimsOut).as("embedding"))
      val q = proj.orderBy("vec_id").limit(NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val pred = ExactNN.topK(q, proj, K, ExactNN.L2)
      val gt = exactNn(s, dir, ExactNN.L2)
      graft.eval.Eval.setPrecisionRecall(
          pred.select(col("query_id"), col("vec_id")),
          gt.select(col("query_id"), col("vec_id")))
        .agg(round(avg("recall"), 4).as("jl_recall"),
          count(lit(1)).as("n_queries"))
    })
  )

  /** JL projection shape: 64-d testdata embeddings down to 16-d. */
  val JlDimsIn = 64
  val JlDimsOut = 16

  /** MRL serving shape: candidates on the first 16 of 64 components,
    * exact rerank of the top 3k per query. */
  val MrlPrefixDims = 16
  val MrlRerankDepth = 3 * K

  private val qCte =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT $NumQueries
       |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT vec_id, label FROM embeddings ORDER BY vec_id",

    "q_vec_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_range_minmax" ->
      """SELECT min(v) AS vmin, max(v) AS vmax
        |FROM (SELECT unnest(embedding)::DOUBLE AS v FROM embeddings)""".stripMargin,

    "q_embedding_quantize" ->
      """SELECT vec_id,
        |  unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding::DOUBLE[],
        |    x -> CASE WHEN list_max(embedding::DOUBLE[]) = list_min(embedding::DOUBLE[])
        |         THEN 0::BIGINT
        |         ELSE round((x - list_min(embedding::DOUBLE[]))
        |           / ((list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0))::BIGINT
        |         END)) AS q
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin,

    "q_label_centroids" ->
      """SELECT label, pos, round(avg(v), 6) AS centroid
        |FROM (
        |  SELECT label,
        |         unnest(generate_series(1, len(embedding))) AS pos,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings
        |)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "q_exact_nn_l2" ->
      s"""$qCte,
         |d AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(list_distance(q.qv, e.embedding::DOUBLE[]), 6) AS dist
         |  FROM q CROSS JOIN embeddings e
         |),
         |r AS (
         |  SELECT query_id, vec_id, dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |  FROM d
         |)
         |SELECT query_id, vec_id, dist FROM r WHERE rn <= $K
         |ORDER BY query_id, dist, vec_id""".stripMargin,

    "q_exact_nn_cosine" ->
      s"""$qCte,
         |d AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(CASE WHEN 1.0 - list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) < 1e-6
         |               THEN 0.0
         |               ELSE 1.0 - list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) END, 6) AS dist
         |  FROM q CROSS JOIN embeddings e
         |),
         |r AS (
         |  SELECT query_id, vec_id, dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |  FROM d
         |)
         |SELECT query_id, vec_id, dist FROM r WHERE rn <= $K
         |ORDER BY query_id, dist, vec_id""".stripMargin,

    "q_jl_project" ->
      s"""$jlProjCte
         |SELECT vec_id, pos, pv FROM proj ORDER BY vec_id, pos""".stripMargin,

    "q_jl_recall" ->
      s"""$jlProjCte,
         |pvec AS (
         |  SELECT vec_id, list(pv ORDER BY pos) AS pv FROM proj GROUP BY vec_id
         |),
         |pq AS (
         |  SELECT vec_id AS query_id, pv AS qv FROM pvec
         |  ORDER BY vec_id LIMIT $NumQueries
         |),
         |pred AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT pq.query_id, pvec.vec_id,
         |      row_number() OVER (PARTITION BY pq.query_id
         |        ORDER BY round(list_distance(pq.qv, pvec.pv), 6), pvec.vec_id) AS rn
         |    FROM pq CROSS JOIN pvec
         |  ) WHERE rn <= $K
         |),
         |q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings ORDER BY vec_id LIMIT $NumQueries
         |),
         |gt AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_distance(q.qv, e.embedding::DOUBLE[]), 6), e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e
         |  ) WHERE rn <= $K
         |),
         |hits AS (
         |  SELECT pred.query_id, count(*) AS valid
         |  FROM pred JOIN gt ON gt.query_id = pred.query_id AND gt.vec_id = pred.vec_id
         |  GROUP BY pred.query_id
         |)
         |SELECT round(avg(round(coalesce(hits.valid, 0) / $K.0, 6)), 4) AS jl_recall,
         |       count(*) AS n_queries
         |FROM (SELECT DISTINCT query_id FROM pred) p
         |LEFT JOIN hits USING (query_id)""".stripMargin,

    // Full end-to-end replay of the MRL pipeline: truncated-prefix
    // candidate ranking, then exact full-dim rerank — same rounding and
    // (dist, vec_id) tiebreaks as graft.ann.Matryoshka at both stages.
    "q_mrl_search" ->
      s"""$mrlCte
         |SELECT query_id, vec_id, dist FROM reranked
         |ORDER BY query_id, dist, vec_id""".stripMargin,

    "q_mrl_recall" ->
      s"""$mrlCte,
         |gt AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_distance(q.qv, e.embedding::DOUBLE[]), 6), e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e
         |  ) WHERE rn <= $K
         |),
         |hits AS (
         |  SELECT r.query_id, count(*) AS valid
         |  FROM reranked r JOIN gt ON gt.query_id = r.query_id AND gt.vec_id = r.vec_id
         |  GROUP BY r.query_id
         |)
         |SELECT round(avg(round(coalesce(hits.valid, 0) / $K.0, 6)), 4) AS mrl_recall,
         |       count(*) AS n_queries
         |FROM (SELECT DISTINCT query_id FROM reranked) p
         |LEFT JOIN hits USING (query_id)""".stripMargin
  )

  /** DuckDB re-derivation of the Matryoshka truncate-then-rerank search
    * — shared CTE prefix of both MRL oracles. List slicing `[1:p]` is
    * 1-based inclusive (= `slice(col, 1, p)`); stays in lockstep with
    * [[graft.ann.Matryoshka.searchAll]] (round-6 before every ranking,
    * vec_id tiebreak at both stages). */
  private lazy val mrlCte =
    s"""$qCte,
       |tc AS (
       |  SELECT vec_id, (embedding::DOUBLE[])[1:$MrlPrefixDims] AS te
       |  FROM embeddings
       |),
       |cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, tc.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_distance(q.qv[1:$MrlPrefixDims], tc.te), 6), tc.vec_id) AS rn
       |    FROM q CROSS JOIN tc
       |  ) WHERE rn <= $MrlRerankDepth
       |),
       |reranked AS (
       |  SELECT query_id, vec_id, dist FROM (
       |    SELECT c.query_id, c.vec_id,
       |      round(list_distance(q.qv, e.embedding::DOUBLE[]), 6) AS dist,
       |      row_number() OVER (PARTITION BY c.query_id
       |        ORDER BY round(list_distance(q.qv, e.embedding::DOUBLE[]), 6), c.vec_id) AS rn
       |    FROM cand c
       |    JOIN embeddings e USING (vec_id)
       |    JOIN q ON q.query_id = c.query_id
       |  ) WHERE rn <= $K
       |)""".stripMargin

  /** DuckDB re-derivation of the md5-sign JL projection — shared CTE
    * prefix of both JL oracles. Must stay in lockstep with
    * [[graft.stats.RandomProjection]] (same md5 string, same nibble
    * rule, same Σ/√dimsOut scaling, same rounding). */
  private lazy val jlProjCte = {
    val sign = graft.stats.RandomProjection.signSql("i", "j")
    s"""WITH proj AS (
       |  SELECT vec_id, i + 1 AS pos,
       |    round(list_sum(list_transform(range(len(embedding)), j ->
       |      embedding[j + 1]::DOUBLE * $sign)) / sqrt($JlDimsOut.0), 6) AS pv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range($JlDimsOut)) AS i)
       |)""".stripMargin
  }
}
