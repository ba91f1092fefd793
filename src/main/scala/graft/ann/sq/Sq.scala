package graft.ann.sq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.TopK

/** Scalar quantization (SQ8-style) — the simplest compression ANN
  * scheme, completing the index family between the exact scan and
  * product quantization: every dimension is quantized independently to
  * `levels + 1` codes against exact per-dimension [min, max] bounds, so
  * a d-dim float vector stores as d small ints (1 byte/dim at
  * levels = 255 — a 4x cut vs float32, 8x vs float64) and decodes to
  * within scale/2 per dimension.
  *
  * Unlike the seeded LSH/IVF/PQ fits, the SQ fit is DETERMINISTIC AND
  * SQL-EXPRESSIBLE — exact per-dimension min/max over the corpus, no
  * sample, no seed — so the driver oracle can recompute the entire
  * codes table cross-engine (`q_sq_codes` hash-compares every code),
  * a strictly stronger build gate than the dump-invariant checks the
  * seeded families get.
  *
  * Spark shape: the fit is ONE aggregation pass (posexplode →
  * groupBy(dim) min/max — map-side combinable, `dims` result rows);
  * encode/decode are `transform` higher-order projections over literal
  * min/scale arrays (codegen'd built-ins, no UDF, no custom expression
  * needed — the compose-existing-ops preference); search decodes each
  * code row ONCE below a broadcast cross join with the query set and
  * scores with the native L2 kernel, top-k via the bounded [[TopK]]
  * aggregation. Exact re-ranking composes by joining the float table
  * back on the bounded candidate list ([[SqIndex.searchRerank]]).
  *
  * Scale notes (100 TB): the scan path reads only the codes table
  * (1 byte/dim at rest); the fit's explode amplifies rows x dims but
  * aggregates to `dims` groups with full map-side combine (one pass,
  * no skew — dimension keys are uniform by construction); the model is
  * two `dims`-length double arrays embedded as plan literals (KBs even
  * at 4096-d), so no broadcast handle is needed.
  */
final class SqModel(val mins: Array[Double], val maxs: Array[Double],
                    val levels: Int) extends Serializable {

  require(mins.length == maxs.length, "mins/maxs length mismatch")
  val dims: Int = mins.length

  /** Per-dim step; 0.0 for constant dimensions (those always encode to
    * code 0 and decode back to the exact constant). */
  val scales: Array[Double] =
    Array.tabulate(dims)(i =>
      if (maxs(i) == mins(i)) 0.0 else (maxs(i) - mins(i)) / levels)

  private def minsLit: Column = typedlit(mins.toSeq)
  private def scalesLit: Column = typedlit(scales.toSeq)

  /** codes(i) = clamp(floor((x_i - min_i)/scale_i + 0.5), 0, levels).
    * floor(+0.5) instead of round() so both engines share one exactly-
    * specified half-up rule; the clamp only binds for out-of-corpus
    * query values (corpus values are inside [min, max] by construction). */
  def encodeCol(vec: Column): Column =
    transform(vec.cast(ArrayType(DoubleType)), (x, i) => {
      val mn = element_at(minsLit, i + 1)
      val sc = element_at(scalesLit, i + 1)
      when(sc === 0.0, lit(0))
        .otherwise(least(greatest(floor((x - mn) / sc + lit(0.5)), lit(0.0)),
          lit(levels.toDouble)).cast(IntegerType))
    })

  /** Dequantized vector: min_i + code_i * scale_i (within scale/2 of the
    * original per dimension). */
  def decodeCol(codes: Column): Column =
    transform(codes, (c, i) =>
      element_at(minsLit, i + 1)
        + c.cast(DoubleType) * element_at(scalesLit, i + 1))

  /** (vec_id, codes ARRAY<INT>) — the compressed corpus (map-side). */
  def transformDf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), encodeCol(col(vecCol)).as("codes"))

  /** Persist the MODEL dirs only (`bounds` + `meta` — the layout
    * [[Sq.load]] reads back), without the codes table: the
    * [[SqIndex.save]] model half, and the `writeModel` callback shape
    * [[graft.ann.CodesMaintainer]]'s `refitAndSwap` expects (point it
    * at the commit temp root). One owner of the layout — callers that
    * hand-rolled these writes would silently drift if the schema ever
    * changed under them. */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    mins.indices.map(i => (i, mins(i), maxs(i)))
      .toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(s"$path/bounds")
    Seq(levels).toDF("levels")
      .write.mode("overwrite").parquet(s"$path/meta")
  }
}

final class SqIndex(val model: SqModel, val codes: DataFrame) {

  /** Approximate search over the compressed table: decode each code row
    * once (the projection sits BELOW the broadcast cross join, so the
    * per-row reconstruction is shared across all queries), score with
    * the native L2 kernel against the broadcast query set, bounded
    * top-k tail. No float-table access, no corpus shuffle.
    *
    * `codesFilter`: constrained (metadata-filtered) search — the
    * scan-side predicate form shared with IVF-PQ/IVF-SQ (metadata
    * stored with the codes, predicate pushed into the codes scan, zero
    * joins; disallowed rows never decoded or scored and never consume
    * top-k/rerank slots). */
  def searchAll(queries: DataFrame, k: Int, roundTo: Int = 6,
                codesFilter: Option[Column] = None): DataFrame = {
    val dec = codesFilter.fold(codes)(f => codes.where(f))
      .select(col("vec_id"), model.decodeCol(col("codes")).as("dec"))
    val scored = dec
      .crossJoin(broadcast(queries.select(col("query_id"), col("qv"))))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.exprs.l2DistNative(col("qv"), col("dec")),
          roundTo).as("dist"))
    TopK.perQueryTopK(scored, k)
  }

  /** The SQ deployment shape: the quantized scan retrieves `rerankDepth`
    * candidates, then ONLY those rows touch the float table for exact
    * re-ranking (bounded candidate list broadcast into the vector
    * table — the corpus-sized side never shuffles). */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100, roundTo: Int = 6,
                   codesFilter: Option[Column] = None): DataFrame = {
    val cands = searchAll(queries, rerankDepth, roundTo, codesFilter)
      .select("query_id", "vec_id")
    val exact = vectors
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.exprs.l2DistNative(col("qv"), col("embedding")),
          roundTo).as("dist"))
    TopK.perQueryTopK(exact, k)
  }

  /** Serve-time delete view (tombstone pattern, semantics and scale
    * shape as [[graft.ann.lsh.LshIndex.withDeletes]]): the codes table
    * anti-joins the broadcast tombstone set map-side; compaction is
    * `withDeletes(t).save(path)`. */
  def withDeletes(tombstones: DataFrame): SqIndex =
    new SqIndex(model,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  /** Incremental append: encode arrivals (vec_id, embedding) with the
    * FROZEN min/max bounds — map-side, union-only. Freshness caveat:
    * arrival components outside the fitted range saturate at the
    * bounds (encodeCol's clamp), so under distribution drift the
    * quantization error is one-sided instead of ±scale/2 — re-fit when
    * arrivals leave the trained envelope (the fit is one aggregation
    * pass, effectively free). */
  def append(arrivals: DataFrame): SqIndex =
    new SqIndex(model,
      codes.unionByName(model.transformDf(arrivals, "vec_id", "embedding")))

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): SqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist bounds + the codes table (same layout contract as the
    * LSH/IVF/PQ persistence: small model tables + the at-rest index). */
  def save(spark: SparkSession, path: String): Unit = {
    model.save(spark, path)
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }
}

object Sq {

  /** Exact per-dimension [min, max] over the corpus — one explode +
    * aggregate pass, `dims` result rows collected. Deterministic (no
    * seed, no sample), hence fully oracle-checkable cross-engine. */
  def fit(df: DataFrame, vecCol: String, levels: Int = 255): SqModel = {
    val rows = df
      .select(posexplode(col(vecCol).cast(ArrayType(DoubleType))))
      .groupBy("pos")
      .agg(min("col").as("mn"), max("col").as("mx"),
        count(lit(1)).as("n"))
      .orderBy("pos")
      .collect()
    require(rows.nonEmpty, "SQ fit over an empty corpus")
    // every vector must contribute to every dimension — a ragged corpus
    // would silently mis-scale the tail dimensions otherwise
    require(rows.map(_.getLong(3)).distinct.length == 1,
      "embedding dimensions are ragged or contain nulls")
    new SqModel(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), levels)
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            levels: Int = 255): SqIndex = {
    val model = fit(df, vecCol, levels)
    new SqIndex(model, model.transformDf(df, idCol, vecCol))
  }

  /** Reopen a saved index (bounds + codes). */
  def load(spark: SparkSession, path: String): SqIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    import spark.implicits._
    val levels = spark.read.parquet(at("meta")).head().getAs[Int]("levels")
    val bounds = spark.read.parquet(at("bounds"))
      .select($"dim", $"mn", $"mx").as[(Int, Double, Double)]
      .collect().sortBy(_._1)
    val model = new SqModel(bounds.map(_._2), bounds.map(_._3), levels)
    new SqIndex(model, spark.read.parquet(at("codes")))
  }
}
