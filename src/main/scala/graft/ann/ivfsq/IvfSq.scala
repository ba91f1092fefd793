package graft.ann.ivfsq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.TopK
import graft.ann.ivf.{Ivf, IvfConfig, IvfModel, IvfExpressions}
import graft.ann.sq.{Sq, SqModel}

/** IVF-SQ: coarse k-means cells prune the scan to ~nProbe/nCells of the
  * corpus AND the scanned rows are 1-byte/dim scalar-quantization codes
  * instead of floats — the middle member of the faiss-style IVF family
  * (IVF-Flat keeps floats, IVF-SQ keeps 8-bit codes, IVF-PQ keeps m-byte
  * product codes). Against IVF-PQ it trades ~d/m× more bytes per scanned
  * row for a far cheaper fit (no product codebooks — the SQ bounds are
  * ONE min/max aggregation pass) and per-dimension resolution that needs
  * no residual tables at scan time; against plain SQ it adds the cell
  * pruning that makes the quantized scan sublinear.
  *
  * Determinism: the coarse quantizer is the seeded IVF fit
  * ([[graft.ann.ivf.Ivf.fit]]); the SQ bounds are exact corpus
  * per-dimension min/max (sample-free), so GIVEN the embeddings table
  * the codes column is recomputable by the DuckDB oracle independently
  * of the seed — `q_ivfsq_codes` exploits exactly that.
  *
  * Scale shape: encode is map-side (cell argmin expression + transform
  * encode in one projection); codes persist `partitionBy(cell)` so a
  * probe prunes to nProbe directories at rest; search broadcasts the
  * probe rows, prunes to probed cells, decodes each pruned row ONCE
  * (projection below the probe join), and scores with the native L2
  * kernel; top-k via the bounded [[TopK]] aggregation; exact re-rank
  * touches the float table only for rerankDepth × |queries| rows.
  */
final case class IvfSqConfig(
    nCells: Int = 16,
    nProbe: Int = 4,
    levels: Int = 255,
    iters: Int = 10,
    seed: Long = 42L,
    sampleCap: Int = 100000,
    angular: Boolean = false,
    driverFitMaxSample: Int = graft.ann.ivf.IvfConfig.DefaultDriverFitMaxSample) {
  def ivfConfig: IvfConfig = IvfConfig(nCells = nCells, nProbe = nProbe,
    iters = iters, seed = seed, sampleCap = sampleCap, angular = angular,
    driverFitMaxSample = driverFitMaxSample)
}

final class IvfSqIndex(val config: IvfSqConfig, val ivf: IvfModel,
                       val sq: SqModel, val codes: DataFrame) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus size, counted once on first rerank (one codes-only scan);
    * feeds the advisory depth rule only. */
  private lazy val corpusCount = codes.count()

  /** The SCALE.md rerank-depth rule as a testable predicate (the
    * [[graft.ann.ivfpq.IvfPqIndex.rerankDepthShallow]] twin): depth
    * must track probed rows (corpus × nProbe / nCells), threshold 2.5%. */
  def rerankDepthShallow(rerankDepth: Int, corpus: Long): Boolean =
    rerankDepth < 0.025 * corpus * config.nProbe / config.nCells

  private def warnIfShallow(rerankDepth: Int): Unit =
    if (rerankDepthShallow(rerankDepth, corpusCount)) {
      val probed = corpusCount.toDouble * config.nProbe / config.nCells
      log.warn(
        f"rerankDepth=$rerankDepth is below 2.5%% of expected probed rows " +
          f"(~$probed%.0f = $corpusCount x nProbe/nCells): the quantized " +
          "scan orders only coarsely, so rerank recall degrades — scale " +
          "rerankDepth with probed rows (SCALE.md rerank-depth rule).")
    }

  private def normalized(v: org.apache.spark.sql.Column) =
    if (config.angular) graft.functions.VectorFunctions.l2Normalize(v) else v

  /** Quantized cell-pruned search: probes broadcast → cells pruned →
    * decode once per pruned row → native L2 against the (normalized, in
    * angular mode) query vectors. Distances are on DEQUANTIZED values —
    * within d × (scale/2)² of exact; compose with [[searchRerank]] for
    * exact ranks.
    *
    * `codesFilter`: constrained (metadata-filtered) search, same
    * scan-side form as [[graft.ann.ivfpq.IvfPqIndex.searchAll]]: store
    * the filterable metadata WITH the codes (join once at build time —
    * the filtered-DiskANN layout) and the predicate pushes into the
    * parquet codes scan — zero joins, disallowed rows never decoded,
    * never scored, never consuming top-k/rerank slots. */
  def searchAll(queries: DataFrame, k: Int, roundTo: Int = 6,
                codesFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qn = queries.select(col("query_id"),
      normalized(col("qv").cast(ArrayType(DoubleType))).as("qv"))
    val probes = ivf.probeRows(qn, "query_id", "qv")
      .select(col("query_id"), col("cell"))
    val probedCells = probes.select("cell").distinct()
    val dec = codesFilter.fold(codes)(f => codes.where(f))
      .join(broadcast(probedCells), "cell")
      .select(col("cell"), col("vec_id"), sq.decodeCol(col("codes")).as("dec"))
    val scored = dec
      .join(broadcast(probes), "cell")
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.exprs.l2DistNative(col("qv"), col("dec")),
          roundTo).as("dist"))
    TopK.perQueryTopK(scored, k)
  }

  /** Deployment shape: quantized candidates re-ranked exactly (cosine in
    * angular mode — scale-invariant, so raw floats need no normalizing). */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100, roundTo: Int = 6,
                   codesFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    warnIfShallow(rerankDepth)
    val cands = searchAll(queries, rerankDepth, roundTo, codesFilter)
      .select("query_id", "vec_id")
    val distCol =
      if (config.angular)
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

  /** Per-cell occupancy (mirrors the IVF/IVF-PQ diagnostics). */
  def cellStats: DataFrame =
    codes.groupBy("cell").agg(count(lit(1)).as("n_vectors")).orderBy("cell")

  /** Serve-time delete view (tombstone pattern, semantics and scale
    * shape as [[graft.ann.lsh.LshIndex.withDeletes]]). */
  def withDeletes(tombstones: DataFrame): IvfSqIndex =
    new IvfSqIndex(config, ivf, sq,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  /** Incremental append: cell-assign + SQ-encode arrivals
    * (vec_id, embedding) with both models frozen — the same map-side
    * projection the train path uses ([[IvfSq.encode]]), union-only.
    * Freshness caveats are IVF's (cell drift, [[cellStats]] watermark)
    * plus SQ's (bound saturation). */
  def append(arrivals: DataFrame): IvfSqIndex =
    new IvfSqIndex(config, ivf, sq,
      codes.unionByName(
        IvfSq.encode(arrivals, "vec_id", "embedding", config, ivf, sq)))

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): IvfSqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist both models + the codes table, `partitionBy(cell)` for
    * at-rest probe pruning (the IVF-PQ layout contract). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    ivf.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    sq.mins.indices.map(i => (i, sq.mins(i), sq.maxs(i))).toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(s"$path/bounds")
    Seq((config.nCells, config.nProbe, config.levels, config.iters,
      config.seed, config.sampleCap, config.angular))
      .toDF("n_cells", "n_probe", "levels", "iters", "seed", "sample_cap",
        "angular")
      .write.mode("overwrite").parquet(s"$path/meta")
    codes.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
  }
}

object IvfSq {

  /** Fit both quantizers: seeded coarse cells + exact SQ bounds (over
    * normalized vectors in angular mode, so decode lives in the same
    * space the cells partition). */
  def fit(df: DataFrame, vecCol: String,
          config: IvfSqConfig): (IvfModel, SqModel) = {
    val ivfModel = Ivf.fit(df, vecCol, config.ivfConfig)
    val fitInput =
      if (!config.angular) df
      else df.withColumn(vecCol,
        graft.functions.VectorFunctions.l2Normalize(
          col(vecCol).cast(ArrayType(DoubleType))))
    (ivfModel, Sq.fit(fitInput, vecCol, config.levels))
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            config: IvfSqConfig): IvfSqIndex = {
    val (ivfModel, sqModel) = fit(df, vecCol, config)
    new IvfSqIndex(config, ivfModel, sqModel,
      encode(df, idCol, vecCol, config, ivfModel, sqModel))
  }

  /** One map-side projection emitting (vec_id, cell, codes): the cell
    * argmin expression normalizes internally in angular mode; the SQ
    * encode sees the explicitly-normalized column. Shared by the train
    * path and [[IvfSqIndex.append]] (frozen-model arrivals). */
  private[ann] def encode(df: DataFrame, idCol: String, vecCol: String,
                            config: IvfSqConfig, ivfModel: IvfModel,
                            sqModel: SqModel): DataFrame = {
    val vec =
      if (!config.angular) col(vecCol)
      else graft.functions.VectorFunctions.l2Normalize(
        col(vecCol).cast(ArrayType(DoubleType)))
    df.select(col(idCol).as("vec_id"),
      IvfExpressions.ivfCell(ivfModel, col(vecCol)).as("cell"),
      sqModel.encodeCol(vec).as("codes"))
  }

  /** Reopen a saved index. */
  def load(spark: SparkSession, path: String): IvfSqIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    import spark.implicits._
    val meta = spark.read.parquet(at("meta")).head()
    val config = IvfSqConfig(
      nCells = meta.getAs[Int]("n_cells"),
      nProbe = meta.getAs[Int]("n_probe"),
      levels = meta.getAs[Int]("levels"),
      iters = meta.getAs[Int]("iters"),
      seed = meta.getAs[Long]("seed"),
      sampleCap = meta.getAs[Int]("sample_cap"),
      angular = meta.getAs[Boolean]("angular"))
    val cents = spark.read.parquet(at("centroids"))
      .select($"cell", $"centroid").as[(Int, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
    val ivfModel = new IvfModel(config.ivfConfig, cents)
    val bounds = spark.read.parquet(at("bounds"))
      .select($"dim", $"mn", $"mx").as[(Int, Double, Double)]
      .collect().sortBy(_._1)
    val sqModel = new SqModel(bounds.map(_._2), bounds.map(_._3),
      config.levels)
    new IvfSqIndex(config, ivfModel, sqModel,
      spark.read.parquet(at("codes")))
  }
}
