package graft.ann.pq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.TopK

/** Product quantization — the memory-compression ANN scheme that
  * complements the bucketing schemes (LSH forest, IVF cells): each
  * vector splits into `m` subvectors, each quantized to one of `k`
  * codebook centroids, so a d-dim float vector compresses to `m` small
  * codes (here m bytes-ish: k <= 256). Search uses asymmetric distance
  * (ADC): the query precomputes a (m x k) table of subvector distances,
  * and a candidate's approximate distance is m table lookups — no float
  * vector ever touched at scan time.
  *
  * Spark shape (same architecture as [[graft.ann.lsh.Lsh]] /
  * [[graft.ann.ivf.Ivf]]): codebooks fit driver-side over a bounded
  * sample (reusing the deterministic parallel Lloyd's from the IVF
  * module); encoding is map-side; the codes table is the only thing the
  * search scans (at 100 TB the 64-byte codes table replaces the 256-byte
  * float table — the 4-75x footprint cut is the point); per-query top-k
  * via the bounded [[TopK]] aggregation.
  *
  * Deterministic end-to-end (seeded sample, deterministic init, fixed
  * iterations, ties by lowest code).
  */
final case class PqConfig(
    numSubvectors: Int = 8,
    codesPerSubvector: Int = 16,
    iters: Int = 10,
    seed: Long = 42L,
    sampleCap: Int = 100000)

/** codebooks(s)(c) = centroid c of subvector s (length dims/m each). */
final class PqModel(val config: PqConfig, val dims: Int,
                    val codebooks: Array[Array[Array[Double]]])
    extends Serializable {

  val subDim: Int = dims / config.numSubvectors

  private def subDist2(v: Array[Double], offset: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = v(offset + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Partial-distance early abandon for the encode argmin (same
    * contract as [[graft.ann.ivf.IvfModel]]'s dist2Bounded: abandoned
    * candidates return a partial sum >= bound, which the strict `<`
    * comparison treats identically to their true distance — argmin and
    * tie-breaking are bit-identical to the unbounded form). Subvectors
    * are short (dims/m, typically 4-16), so a per-element check is
    * branch-cheap relative to the 256-candidate scan it prunes. */
  private def subDist2Bounded(v: Array[Double], offset: Int, c: Array[Double],
                              bound: Double): Double = {
    var s = 0.0; var i = 0
    while (i < c.length && s < bound) { val d = v(offset + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Code assignment for one full vector: argmin centroid per subvector. */
  def encode(v: Array[Double]): Array[Int] = {
    val out = new Array[Int](config.numSubvectors)
    var s = 0
    while (s < config.numSubvectors) {
      var best = 0; var bd = Double.MaxValue; var c = 0
      val cb = codebooks(s)
      while (c < cb.length) {
        val d = subDist2Bounded(v, s * subDim, cb(c), bd)
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    out
  }

  /** ADC lookup table for a query: table(s)(c) = ||q_s - codebook(s)(c)||^2. */
  def adcTable(q: Array[Double]): Array[Array[Double]] =
    Array.tabulate(config.numSubvectors) { s =>
      codebooks(s).map(c => subDist2(q, s * subDim, c))
    }

  /** Approximate L2 distance from codes via a precomputed ADC table. */
  def adcDist(table: Array[Array[Double]], codes: Seq[Int]): Double = {
    var s = 0.0; var i = 0
    while (i < table.length) { s += table(i)(codes(i)); i += 1 }
    math.sqrt(s)
  }

  /** Reconstruction of a code sequence (for error analysis). */
  def decode(codes: Seq[Int]): Array[Double] = {
    val out = new Array[Double](dims)
    var s = 0
    while (s < config.numSubvectors) {
      System.arraycopy(codebooks(s)(codes(s)), 0, out, s * subDim, subDim)
      s += 1
    }
    out
  }

  /** [[encode]] reading float/double elements straight out of Tungsten
    * ArrayData — the native-expression path ([[PqEncodeExpr]]). */
  def encodeData(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 isFloat: Boolean): Array[Int] = {
    val v = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    encode(v)
  }

  /** (id, codes ARRAY<INT>) — the compressed corpus; map-side only,
    * native codegen encode (no per-row encoder round-trip). */
  def transform(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"),
      PqExpressions.pqEncode(this, col(vecCol)).as("codes"))
}

final class PqIndex(val model: PqModel, val codes: DataFrame) {

  /** Batch ADC search: the (m x k) distance table is precomputed ONCE
    * per query driver-side (the query set is small — it is broadcast to
    * the scan anyway) and rides into generated code as a plan reference;
    * a candidate's distance is then m table lookups over the codes table
    * only — no float vector and no distance kernel on the scan path.
    * Bounded top-k aggregation; exact re-ranking composes by joining
    * `vectors` back on the returned ids ([[searchRerank]]).
    *
    * The driver-side collect makes "queries are the small side" a hard
    * contract: at most [[Pq.MaxQueryBatch]] rows are ever collected
    * (the scan stops there), and exceeding it throws a named error
    * instead of a silent driver OOM — batch a bigger query set
    * externally. The collected rows are also the ONLY evaluation of
    * `queries` inside this method (the broadcast query-id frame is a
    * local relation over them), so a nondeterministic queries plan
    * cannot desync the ADC tables from the scan. */
  def searchAll(queries: DataFrame, k: Int, roundTo: Int = 6): DataFrame = {
    val m = model
    import queries.sparkSession.implicits._
    val qRows = queries
      .select(col("query_id").cast(LongType),
        col("qv").cast(ArrayType(DoubleType)))
      .limit(Pq.MaxQueryBatch + 1)
      .collect()
    require(qRows.length <= Pq.MaxQueryBatch,
      s"PqIndex.searchAll collects the query set driver-side for ADC " +
        s"tables and got over ${Pq.MaxQueryBatch} rows — queries are " +
        "contractually the small side; batch larger query sets externally")
    val tables = new PqAdcTables(qRows.map(r =>
      r.getLong(0) -> m.adcTable(r.getSeq[Double](1).toArray)))
    val qIds = qRows.map(_.getLong(0)).toSeq.toDF("query_id")
    val scored = codes
      .crossJoin(broadcast(qIds))
      .select(col("query_id"), col("vec_id"),
        round(PqExpressions.pqAdcDist(tables, col("query_id"), col("codes")),
          roundTo).as("dist"))
    TopK.perQueryTopK(scored, k)
  }

  /** Serve-time delete view (tombstone pattern, semantics and scale
    * shape as [[graft.ann.lsh.LshIndex.withDeletes]]). */
  def withDeletes(tombstones: DataFrame): PqIndex =
    new PqIndex(model,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  /** Incremental append: encode arrivals (vec_id, embedding) with the
    * FROZEN codebooks — map-side, union-only. Freshness caveat: frozen
    * sub-codebooks quantize drifted arrivals against stale centroids,
    * inflating ADC error (ordering quality, not correctness — rerank
    * recovers); re-train on the k-means cadence that fits the drift. */
  def append(arrivals: DataFrame): PqIndex =
    new PqIndex(model,
      codes.unionByName(model.transform(arrivals, "vec_id", "embedding")))

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): PqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist codebooks + meta + the compressed codes table (the codes
    * ARE the index at scan time — m small ints per vector, the 4-75x
    * footprint cut that makes PQ the at-rest format for cold corpora). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val m = model
    m.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) }
    }.toSeq
      .toDF("subvector", "code", "centroid")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((m.config.numSubvectors, m.config.codesPerSubvector, m.config.iters,
      m.config.seed, m.config.sampleCap, m.dims))
      .toDF("num_subvectors", "codes_per_subvector", "iters", "seed",
        "sample_cap", "dims")
      .write.mode("overwrite").parquet(s"$path/meta")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** The standard PQ deployment shape: ADC retrieves a deeper candidate
    * list (`rerankDepth`) from the compressed codes, then ONLY those
    * candidates touch the float vectors for exact re-ranking to the
    * final top-k. At 100 TB the full scan reads m-byte codes; the float
    * table is accessed for `rerankDepth` rows per query. */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100, roundTo: Int = 6): DataFrame =
    Pq.exactRerankTail(searchAll(queries, rerankDepth).select("query_id", "vec_id"),
      queries, vectors, k, roundTo)
}

object Pq {

  /** Hard ceiling on the query rows [[PqIndex.searchAll]] will collect
    * driver-side to build ADC tables (the documented "queries are the
    * small side" contract, typically 100-10k rows). 64k query vectors at
    * 1k-d doubles is ~512 MB of tables — already generous; beyond it the
    * caller must batch, and the guard fails with a named error instead
    * of a driver OOM. */
  val MaxQueryBatch: Int = 65536

  /** Reopen a saved index (codebooks + codes) — parquet layout defined
    * by [[PqIndex.save]], mirroring the LSH/IVF persistence contract. */
  def load(spark: SparkSession, path: String): PqIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    import spark.implicits._
    val meta = spark.read.parquet(at("meta")).head()
    val config = PqConfig(
      numSubvectors = meta.getAs[Int]("num_subvectors"),
      codesPerSubvector = meta.getAs[Int]("codes_per_subvector"),
      iters = meta.getAs[Int]("iters"),
      seed = meta.getAs[Long]("seed"),
      sampleCap = meta.getAs[Int]("sample_cap"))
    val dims = meta.getAs[Int]("dims")
    val rows = spark.read.parquet(at("codebooks"))
      .select($"subvector", $"code", $"centroid")
      .as[(Int, Int, Seq[Double])].collect()
    val codebooks = Array.tabulate(config.numSubvectors) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3.toArray)
    }
    val codes = spark.read.parquet(at("codes"))
      .select(col("vec_id"), col("codes"))
    new PqIndex(new PqModel(config, dims, codebooks), codes)
  }

  /** The sampled, driver-collected fit vectors ([[fit]]'s prologue) —
    * shared with [[Opq.fit]], whose spec-pinned never-worse-than-PQ
    * contract depends on starting from THESE EXACT vectors and
    * [[fitCodebooks]]'s exact codebooks (the warm-start equivalence is
    * structural, not coincidental). */
  private[pq] def fitSample(df: DataFrame, vecCol: String,
                            config: PqConfig): Array[Array[Double]] = {
    val total = df.count()
    val sampled =
      if (total <= config.sampleCap) df
      else df.sample(withReplacement = false,
        fraction = config.sampleCap.toDouble / total, seed = config.seed)
    val vecs = graft.ann.FitSample.collectVectors(sampled, vecCol)
    require(vecs(0).length % config.numSubvectors == 0,
      s"dims ${vecs(0).length} must divide into ${config.numSubvectors} subvectors")
    vecs
  }

  /** Per-subvector seeded Lloyd codebooks of `vecs` — per-subvector
    * codebooks are independent, so they fit concurrently through the
    * IVF module's deterministic parallel Lloyd's (ParallelFit
    * propagates a dead thread's failure instead of leaving a null
    * codebook slot and a delayed NPE). Shared with [[Opq.fit]]. */
  private[pq] def fitCodebooks(vecs: Array[Array[Double]],
                               config: PqConfig): Array[Array[Array[Double]]] = {
    val subDim = vecs(0).length / config.numSubvectors
    val codebooks = new Array[Array[Array[Double]]](config.numSubvectors)
    graft.ann.ParallelFit.run(config.numSubvectors) { s =>
      val sub = vecs.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      codebooks(s) = graft.ann.ivf.Ivf.lloyd(sub, config.codesPerSubvector, config.iters)
    }
    codebooks
  }

  def fit(df: DataFrame, vecCol: String, config: PqConfig): PqModel = {
    val vecs = fitSample(df, vecCol, config)
    new PqModel(config, vecs(0).length, fitCodebooks(vecs, config))
  }

  /** The ADC-candidates → exact-re-rank tail shared by [[PqIndex]],
    * [[OpqIndex]] and [[graft.ann.ivfpq.IvfOpqIndex]]: `cands` is
    * bounded by rerankDepth × |queries| rows — broadcast it so the
    * (corpus-sized) float-vector table is probed in place, never
    * shuffled, on the one step that touches it. `angular` reranks by
    * exact cosine (the IVF-PQ angular pairing); L2 otherwise. */
  private[ann] def exactRerankTail(cands: DataFrame, queries: DataFrame,
                                   vectors: DataFrame, k: Int,
                                   roundTo: Int,
                                   angular: Boolean = false): DataFrame = {
    val distCol =
      if (angular)
        graft.functions.exprs.cosineDistNative(col("qv"), col("embedding"))
      else
        graft.functions.exprs.l2DistNative(col("qv"), col("embedding"))
    val exact = vectors
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(distCol, roundTo).as("dist"))
    TopK.perQueryTopK(exact, k)
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            config: PqConfig = PqConfig()): PqIndex = {
    val model = fit(df, vecCol, config)
    new PqIndex(model, model.transform(df, idCol, vecCol))
  }
}
