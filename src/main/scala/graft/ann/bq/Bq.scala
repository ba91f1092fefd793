package graft.ann.bq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.TopK

/** Binary quantization (1 bit/dimension) — the deepest compression point
  * in the index family (LSH forest, IVF, SQ8, PQ, IVF-SQ, IVF-PQ): each
  * dimension keeps only its sign against a fixed per-dimension threshold,
  * so a d-dim float vector stores as ceil(d/64) packed 64-bit words
  * (1 bit/dim — 32x smaller than float32 at rest, 8 B/vec at 64-d; see
  * the word-width note below) and candidate scoring is XOR + popcount — the
  * same sign-bit sketch family as SimHash (text/Dedup.scala) applied to
  * dense embeddings, and the scan-side shape of the reference's
  * hyperplane hashing (lsh/hasher.go:175-205) with the forest replaced by
  * one fixed axis-aligned splitter per dimension.
  *
  * Threshold choice — midrange, NOT mean: thr_i = (min_i + max_i) / 2.
  * Per-dim min/max are exact and summation-order-independent, and the
  * halving is a single IEEE op, so the fit is bit-identical across
  * engines and across reruns — which makes the ENTIRE codes table AND the
  * integer Hamming search fully cross-engine checkable (`q_bq_codes`,
  * `q_bq_search_hamming`), the strongest oracle in the family (no FP
  * tolerance anywhere: thresholds are reproducible doubles, distances are
  * integers). A per-dim MEAN threshold would differ in the last ulp
  * between engines (and between Spark reruns — aggregation order is
  * nondeterministic), silently flipping boundary bits.
  *
  * Spark shape: fit is one posexplode + min/max aggregation (map-side
  * combinable, `dims` result rows — shared with [[graft.ann.sq.Sq]]);
  * encode packs bits with `transform`/`aggregate` over literal
  * threshold/power arrays (codegen'd built-ins, no UDF); the scan
  * broadcasts the encoded query set across the codes table and scores
  * with `zip_with` + `bit_count(xor)`; top-k via the bounded [[TopK]]
  * aggregation; exact re-ranking joins the float table on the bounded
  * candidate list only.
  *
  * Scale notes (100 TB): the scan reads ONLY packed words (1 bit/dim —
  * a 3 TB scan where the float table is 100 TB); the model is one
  * dims-length double array embedded as a plan literal (KBs even at
  * 4096-d, no broadcast handle needed); rerank I/O is bounded at
  * |queries| x rerankDepth float rows.
  *
  * Word width: 64-bit packing is the at-rest default (the honest
  * 1 bit/dim — 8 B/vec at 64-d). Bit 63's "power" is Long.MinValue:
  * summing distinct powers equals bitwise OR in two's complement, and
  * adding the one negative term to a ≤ 2^63−1 partial sum can't
  * overflow, so the encode stays in checked-arithmetic range in BOTH
  * engines (the DuckDB oracle re-derives the sign bit the same way —
  * `(-9223372036854775807 - 1)` instead of an out-of-range `1 << 63`).
  * `bitsPerWord = 32` remains available for dumps written before the
  * packed format (loads of meta-less dumps default to it).
  */
final class BqModel(val thresholds: Array[Double],
                    val bitsPerWord: Int = BqModel.BitsPerWord)
    extends Serializable {

  require(thresholds.nonEmpty, "empty threshold vector")
  require(bitsPerWord == 32 || bitsPerWord == 64,
    s"bitsPerWord must be 32 or 64, got $bitsPerWord")
  val dims: Int = thresholds.length
  val nWords: Int = (dims + bitsPerWord - 1) / bitsPerWord

  private def thrLit: Column = typedlit(thresholds.toSeq)
  private def powLit: Column = typedlit(BqModel.powers(bitsPerWord).toSeq)

  /** codes(w) = sum over j in [0,bitsPerWord) of
    * (vec[w*bpw+j] > thr[w*bpw+j]) << j; bits past `dims` in the last
    * word stay 0. Distinct powers of two make `+` equal to bitwise OR
    * (mod 2^64 — the j=63 power IS Long.MinValue, see class doc), and
    * the power table ships as a literal array because `shiftleft`
    * takes only a literal shift amount. */
  def encodeCol(vec: Column): Column = {
    val v = vec.cast(ArrayType(DoubleType))
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(
        sequence(lit(0), lit(bitsPerWord - 1)),
        lit(0L),
        (acc, j) => {
          val d = w * bitsPerWord + j // 0-based dimension index
          when(d < lit(dims) &&
              element_at(v, d + 1) > element_at(thrLit, d + 1),
            acc + element_at(powLit, j + 1)).otherwise(acc)
        }))
  }

  /** Hamming distance between two packed code arrays: popcount of the
    * per-word XOR, summed — `nWords` codegen'd integer ops per pair. */
  def hammingCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, c) => acc + c)

  /** (vec_id, codes ARRAY<BIGINT>) — the packed corpus (map-side). */
  def transformDf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), encodeCol(col(vecCol)).as("codes"))
}

object BqModel {
  /** Default word width: true 64-bit packing (8 B/vec at 64-d). */
  val BitsPerWord = 64
  /** 1L << j for j in [0, width): j = 63 is Long.MinValue — the signed
    * representation of bit 63, exactly what OR-by-addition needs. */
  private[bq] def powers(width: Int): Array[Long] =
    Array.tabulate(width)(1L << _)
}

final class BqIndex(val model: BqModel, val codes: DataFrame) {

  /** Hamming scan: encode the query set with the corpus thresholds,
    * broadcast it across the codes table, score XOR+popcount, bounded
    * top-k by (hamming, vec_id) — integer distances, so the whole result
    * is deterministic and cross-engine exact. Returns
    * (query_id, vec_id, hamming BIGINT).
    *
    * `codesFilter`: constrained (metadata-filtered) search — the
    * scan-side predicate form shared with SQ/IVF-SQ/IVF-PQ (metadata
    * stored with the packed codes, predicate pushed into the codes
    * scan, zero joins; disallowed rows never scored and never consume
    * top-k/rerank slots). */
  def searchHamming(queries: DataFrame, k: Int,
                    codesFilter: Option[Column] = None): DataFrame = {
    val qc = queries.select(col("query_id"), model.encodeCol(col("qv")).as("qc"))
    val scored = codesFilter.fold(codes)(f => codes.where(f))
      .crossJoin(broadcast(qc))
      .select(col("query_id"), col("vec_id"),
        model.hammingCol(col("qc"), col("codes")).cast(DoubleType).as("dist"))
    TopK.perQueryTopK(scored, k)
      .select(col("query_id"), col("vec_id"),
        col("dist").cast(LongType).as("hamming"))
  }

  /** The BQ deployment shape: Hamming scan retrieves `rerankDepth`
    * candidates from the packed table, then ONLY those rows touch the
    * float table for exact re-ranking (bounded candidate list broadcast
    * into the vector table — the corpus-sized side never shuffles).
    * Same tail contract as [[graft.ann.sq.SqIndex]]. On the metric:
    * the SimHash angle bound (P[bit differs] = θ/π) holds for random
    * hyperplanes through the ORIGIN; BQ's axis-aligned MIDRANGE
    * thresholds are generally offset from it, so Hamming here
    * approximates an angle only for data roughly centered on its
    * midranges — in general it is a coordinate-wise position sketch
    * and either rerank metric is an empirical choice, not a theorem
    * (both measured ≥ 0.97 at depth 250/500 on the testdata). */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100,
                   metric: graft.ann.ExactNN.Metric = graft.ann.ExactNN.L2,
                   roundTo: Int = 6,
                   codesFilter: Option[Column] = None): DataFrame = {
    val cands = searchHamming(queries, rerankDepth, codesFilter)
      .select("query_id", "vec_id")
    val exact = vectors
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(metric.dist(col("qv"), col("embedding")), roundTo).as("dist"))
    TopK.perQueryTopK(exact, k)
  }

  /** Serve-time delete view (tombstone pattern, semantics and scale
    * shape as [[graft.ann.lsh.LshIndex.withDeletes]]). */
  def withDeletes(tombstones: DataFrame): BqIndex =
    new BqIndex(model,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  /** Incremental append: sign-encode arrivals (vec_id, embedding)
    * against the FROZEN midrange thresholds — map-side, union-only.
    * Freshness caveat: under drift the thresholds stop bisecting the
    * data, degrading Hamming ordering (never correctness — rerank
    * recovers); the midrange fit is one min/max pass, re-fit freely. */
  def append(arrivals: DataFrame): BqIndex =
    new BqIndex(model,
      codes.unionByName(model.transformDf(arrivals, "vec_id", "embedding")))

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): BqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist thresholds + word width + the packed codes table (same
    * layout contract as the SQ/LSH/IVF/PQ persistence: small model
    * table + at-rest index). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    model.thresholds.indices.map(i => (i, model.thresholds(i)))
      .toDF("dim", "thr")
      .write.mode("overwrite").parquet(s"$path/thresholds")
    Seq(Tuple1(model.bitsPerWord)).toDF("bits_per_word")
      .write.mode("overwrite").parquet(s"$path/meta")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }
}

object Bq {

  /** Exact per-dimension midrange over the corpus — one explode +
    * min/max pass, `dims` rows collected. Deterministic, order-
    * independent, hence bit-identically recomputable cross-engine. */
  def fit(df: DataFrame, vecCol: String,
          bitsPerWord: Int = BqModel.BitsPerWord): BqModel = {
    val rows = df
      .select(posexplode(col(vecCol).cast(ArrayType(DoubleType))))
      .groupBy("pos")
      .agg(min("col").as("mn"), max("col").as("mx"), count(lit(1)).as("n"))
      .orderBy("pos")
      .collect()
    require(rows.nonEmpty, "BQ fit over an empty corpus")
    // every vector must contribute to every dimension — a ragged corpus
    // would silently bias the tail thresholds otherwise
    require(rows.map(_.getLong(3)).distinct.length == 1,
      "embedding dimensions are ragged or contain nulls")
    new BqModel(rows.map(r => (r.getDouble(1) + r.getDouble(2)) / 2),
      bitsPerWord)
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            bitsPerWord: Int = BqModel.BitsPerWord): BqIndex = {
    val model = fit(df, vecCol, bitsPerWord)
    new BqIndex(model, model.transformDf(df, idCol, vecCol))
  }

  /** Reopen a saved index (thresholds + word width + codes). Dumps
    * written before the packed-64 format have no meta table and load
    * as 32-bit — the width their codes were packed at. */
  def load(spark: SparkSession, path: String): BqIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    import spark.implicits._
    val thr = spark.read.parquet(at("thresholds"))
      .select($"dim", $"thr").as[(Int, Double)]
      .collect().sortBy(_._1).map(_._2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val bpw =
      if (!fs.exists(new org.apache.hadoop.fs.Path(at("meta")))) 32
      else spark.read.parquet(at("meta")).head().getAs[Int]("bits_per_word")
    new BqIndex(new BqModel(thr, bpw), spark.read.parquet(at("codes")))
  }
}
