package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.ExactNN
import graft.eval.Eval
import graft.stats.VectorStats

/** Statistics + evaluation query surface (reference O15-O18).
  *
  * The precision/recall queries need a deterministic "approximate"
  * prediction to grade: we use exact top-k over the EVEN-vec_id half of
  * the corpus (a decimated index) against exact top-k over the full corpus
  * as ground truth — reproducible in pure SQL, unlike the seeded LSH path
  * (which is graded by recall-bound property tests instead, SURVEY.md §5).
  */
object StatsQueries extends QueryPack {

  private val K = VectorQueries.K
  private val Eps = 0.05

  private def ranked(df: DataFrame): DataFrame =
    df.withColumn("pos",
      row_number().over(Window.partitionBy("query_id").orderBy("dist", "vec_id")))

  private def queriesDf(emb: DataFrame): DataFrame =
    emb.orderBy("vec_id").limit(VectorQueries.NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  private def predAndGt(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = tbl(s, dir, "embeddings")
    val q = queriesDf(emb)
    val gt = ExactNN.topK(q, emb, K, ExactNN.L2)
    val pred = ExactNN.topK(q, emb.where(col("vec_id") % 2 === 0), K, ExactNN.L2)
    (pred, gt)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mean_mad" -> ((s, dir) =>
      VectorStats.meanMad(tbl(s, dir, "embeddings"))
        .select(col("pos"), round(col("mean"), 6).as("mean"), round(col("mad"), 6).as("mad"))
        .orderBy("pos")),

    "q_scale_vectors" -> ((s, dir) =>
      VectorStats.scaleAll(tbl(s, dir, "embeddings")).orderBy("vec_id", "pos")),

    // Embedding-distribution drift between two snapshots (ref = even
    // vec_ids, cur = odd — a deterministic split both engines can
    // replay): per-dim mean/MAD of both sides plus the scale-free
    // location shift (in reference-MADs) and spread ratio. The monitor
    // every frozen-model freshness caveat (append paths, maintainer
    // watermarks) points at — here under the cross-engine oracle.
    "q_embedding_drift" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      VectorStats.drift(
        e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1))
        .orderBy("pos")
    }),

    "q_set_precision_recall" -> ((s, dir) => {
      val (pred, gt) = predAndGt(s, dir)
      Eval.setPrecisionRecall(pred, gt).orderBy("query_id")
    }),

    // kNN classification by neighbor label vote — the canonical
    // similarity-search APPLICATION (label propagation / weak
    // supervision over an embedding space), leave-one-out form: each
    // validation vector is classified by majority vote of its k exact
    // nearest neighbors EXCLUDING itself (self sits at dist 0 = rank 1
    // always, so top-(k+1) minus self is exactly k rows). Vote ties
    // break deterministically to the lowest label via a single
    // max(struct(votes, -label)) aggregate — no per-query window.
    // Scale shape: the vote is a (query_id, label)-keyed agg over
    // bounded k x |queries| neighbor rows; the only corpus-sized work
    // is the exact-NN scan, swappable for any index's searchAll.
    // (The testdata's labels are only weakly coupled to embedding
    // geometry — accuracy ~0.13 vs 0.10 chance at sf0.01 — the gate
    // checks the mechanism's determinism cross-engine, not the
    // corpus's learnability.)
    "q_knn_classify" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = queriesDf(e)
      val nn = ExactNN.topK(q, e, K + 1, ExactNN.L2)
        .where(col("vec_id") =!= col("query_id"))
      val votes = nn
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      val pred = votes.groupBy("query_id")
        .agg(max(struct(col("votes"), (-col("label")).as("negl"))).as("m"))
        .select(col("query_id"), col("m.votes").as("votes"),
          (-col("m.negl")).cast("int").as("pred_label"))
      val truth = e.select(col("vec_id").as("query_id"),
        col("label").as("true_label"))
      pred.join(truth, "query_id")
        .select(col("query_id"), col("true_label"), col("pred_label"),
          col("votes"), (col("pred_label") === col("true_label")).as("correct"))
        .orderBy("query_id")
    }),

    "q_eps_precision_recall" -> ((s, dir) => {
      val (pred, gt) = predAndGt(s, dir)
      Eval.distanceBasedPrecisionRecall(ranked(pred), ranked(gt), Eps).orderBy("query_id")
    })
  )

  /** Shared SQL fragments. */
  private val qCte =
    s"""q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
       |)""".stripMargin

  private def topkCte(name: String, corpusFilter: String): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT query_id, vec_id, dist,
       |           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS pos
       |    FROM (
       |      SELECT q.query_id, e.vec_id,
       |             round(list_distance(q.qv, e.embedding::DOUBLE[]), 6) AS dist
       |      FROM q CROSS JOIN embeddings e $corpusFilter
       |    )
       |  ) WHERE pos <= $K
       |)""".stripMargin

  private val dimsCte =
    """x AS (
      |  SELECT vec_id,
      |         unnest(generate_series(1, len(embedding))) AS pos,
      |         unnest(embedding)::DOUBLE AS v
      |  FROM embeddings
      |),
      |m AS (SELECT pos, avg(v) AS mean FROM x GROUP BY pos),
      |s AS (
      |  SELECT x.pos AS pos, max(m.mean) AS mean, avg(abs(x.v - m.mean)) AS mad
      |  FROM x JOIN m ON x.pos = m.pos GROUP BY x.pos
      |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_mean_mad" ->
      s"""WITH $dimsCte
         |SELECT pos, round(mean, 6) AS mean, round(mad, 6) AS mad
         |FROM s ORDER BY pos""".stripMargin,

    "q_scale_vectors" ->
      s"""WITH $dimsCte
         |SELECT x.vec_id AS vec_id, x.pos AS pos,
         |       round((x.v - s.mean) / s.mad, 6) AS sv
         |FROM x JOIN s ON x.pos = s.pos
         |ORDER BY vec_id, pos""".stripMargin,

    "q_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id,
        |         unnest(generate_series(1, len(embedding))) AS pos,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings
        |),
        |side AS (SELECT pos, v, vec_id % 2 = 0 AS is_ref FROM x),
        |m AS (SELECT pos, is_ref, avg(v) AS mean FROM side GROUP BY pos, is_ref),
        |st AS (
        |  SELECT s.pos, s.is_ref, max(m.mean) AS mean,
        |         avg(abs(s.v - m.mean)) AS mad
        |  FROM side s JOIN m ON s.pos = m.pos AND s.is_ref = m.is_ref
        |  GROUP BY s.pos, s.is_ref
        |),
        |a AS (SELECT pos, mean AS mean_ref, mad AS mad_ref FROM st WHERE is_ref),
        |b AS (SELECT pos, mean AS mean_cur, mad AS mad_cur FROM st WHERE NOT is_ref)
        |SELECT a.pos AS pos,
        |       round(mean_ref, 6) AS mean_ref,
        |       round(mean_cur, 6) AS mean_cur,
        |       round(mad_ref, 6) AS mad_ref,
        |       round(mad_cur, 6) AS mad_cur,
        |       round(abs(mean_cur - mean_ref) / nullif(mad_ref, 0), 6) AS shift_mads,
        |       round(mad_cur / nullif(mad_ref, 0), 6) AS mad_ratio
        |FROM a JOIN b ON a.pos = b.pos
        |ORDER BY pos""".stripMargin,

    "q_knn_classify" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         |         label AS true_label
         |  FROM embeddings ORDER BY vec_id LIMIT ${VectorQueries.NumQueries}
         |),
         |sc AS (
         |  SELECT qs.query_id, e.vec_id, e.label,
         |         round(list_distance(qs.qv, e.embedding::DOUBLE[]), 6) AS dist
         |  FROM qs CROSS JOIN embeddings e
         |),
         |nn AS (
         |  SELECT query_id, vec_id, label FROM (
         |    SELECT query_id, vec_id, label,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
         |    FROM sc
         |  ) WHERE rn <= ${K + 1}
         |),
         |v AS (
         |  SELECT query_id, label, count(*) AS votes
         |  FROM nn WHERE vec_id <> query_id GROUP BY query_id, label
         |),
         |p AS (
         |  SELECT query_id, label AS pred_label, votes FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY votes DESC, label ASC) AS rn
         |    FROM v
         |  ) WHERE rn = 1
         |)
         |SELECT p.query_id AS query_id, qs.true_label AS true_label,
         |       p.pred_label AS pred_label, p.votes AS votes,
         |       p.pred_label = qs.true_label AS correct
         |FROM p JOIN qs USING (query_id) ORDER BY query_id""".stripMargin,

    "q_set_precision_recall" ->
      s"""WITH $qCte,
         |${topkCte("gt", "")},
         |${topkCte("pr", "WHERE e.vec_id % 2 = 0")},
         |hits AS (
         |  SELECT p.query_id, count(*) AS valid
         |  FROM pr p JOIN (SELECT DISTINCT query_id, vec_id FROM gt) g
         |    ON p.query_id = g.query_id AND p.vec_id = g.vec_id
         |  GROUP BY p.query_id
         |),
         |np AS (SELECT query_id, count(*) AS n_pred FROM pr GROUP BY query_id),
         |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id)
         |SELECT np.query_id AS query_id,
         |       round(coalesce(h.valid, 0) / np.n_pred, 6) AS precision,
         |       round(coalesce(h.valid, 0) / ng.n_gt, 6) AS recall
         |FROM np JOIN ng ON np.query_id = ng.query_id
         |LEFT JOIN hits h ON np.query_id = h.query_id
         |ORDER BY query_id""".stripMargin,

    "q_eps_precision_recall" ->
      s"""WITH $qCte,
         |${topkCte("gt", "")},
         |${topkCte("pr", "WHERE e.vec_id % 2 = 0")},
         |member AS (SELECT DISTINCT query_id, vec_id FROM gt),
         |paired AS (
         |  SELECT p.query_id,
         |         CASE WHEN m.vec_id IS NOT NULL AND p.dist <= (1.0 + $Eps) * g.dist
         |              THEN 1 ELSE 0 END AS ok
         |  FROM pr p
         |  JOIN gt g ON p.query_id = g.query_id AND p.pos = g.pos
         |  LEFT JOIN member m ON p.query_id = m.query_id AND p.vec_id = m.vec_id
         |),
         |valid AS (SELECT query_id, sum(ok) AS valid FROM paired GROUP BY query_id),
         |np AS (SELECT query_id, count(*) AS n_pred FROM pr GROUP BY query_id),
         |ng AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id)
         |SELECT np.query_id AS query_id,
         |       round(coalesce(v.valid, 0) / np.n_pred, 6) AS precision,
         |       round(coalesce(v.valid, 0) / ng.n_gt, 6) AS recall
         |FROM np JOIN ng ON np.query_id = ng.query_id
         |LEFT JOIN valid v ON np.query_id = v.query_id
         |ORDER BY query_id""".stripMargin
  )
}
