package graft.ann.ivfpq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.{FitSample, TopK}
import graft.ann.ivf.{Ivf, IvfConfig, IvfModel}
import graft.ann.pq.{PqConfig, PqModel}

/** IVF-PQ — the composition of the two quantizers this library already
  * ships separately ([[graft.ann.ivf.Ivf]] coarse cells,
  * [[graft.ann.pq.Pq]] product codes), and the standard architecture for
  * billion-scale ANN (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011, §IV: IVFADC): the coarse quantizer
  * prunes the scan to nProbe/nCells of the corpus, and PQ encodes the
  * RESIDUAL `v - centroid(cell)` — residuals concentrate around zero, so
  * the same code budget quantizes them with materially less error than
  * raw vectors.
  *
  * Spark shape (same as the component indexes):
  *   - `fit`: one driver-side seeded sample fits both quantizers —
  *     Lloyd's for the cells, then per-subvector Lloyd's over the
  *     sample's residuals (reusing [[Ivf.lloyd]] for both);
  *   - `transform`: map-side `(vec_id, cell, codes)` via ONE native
  *     codegen expression (cell argmin + residual encode in a single
  *     pass, [[IvfPqEncodeExpr]]) — no shuffle;
  *   - `searchAll`: queries probe their nProbe closest cells; the codes
  *     table is equi-joined on `cell` against the broadcast probe rows
  *     (partition-prunable at rest via [[IvfPqIndex.save]]'s
  *     `partitionBy(cell)` layout); a candidate's distance is m table
  *     lookups in the per-(query, cell) residual ADC table, built lazily
  *     executor-side with bounded memoization ([[IvfPqAdcTables]]) — the
  *     float corpus is never touched;
  *   - `searchRerank`: the deployment shape — ADC retrieves a deeper
  *     candidate list from the compressed codes, then only those rows
  *     touch the float vectors for exact re-ranking.
  *
  * At 100 TB this is the index you actually build: the scan reads
  * m-byte codes for nProbe/nCells of the corpus (both compression AND
  * pruning, vs PQ-alone's full compressed scan and IVF-alone's float
  * reads), and the fit stays a driver-side bounded sample.
  *
  * Angular mode (`config.angular`) quantizes the unit sphere — sample,
  * corpus and queries are L2-normalized before cell/code assignment
  * (cosine ranking == L2 ranking on normalized vectors, the same
  * coupling the reference ties to its angular metric,
  * lsh/hasher.go:121-132) — and `searchRerank` reranks by exact cosine
  * distance.
  *
  * Deterministic end-to-end: seeded sample, deterministic k-means init,
  * fixed iterations, ties by lowest cell/code id.
  */
final case class IvfPqConfig(
    nCells: Int = 16,
    nProbe: Int = 4,
    numSubvectors: Int = 8,
    codesPerSubvector: Int = 16,
    iters: Int = 10,
    seed: Long = 42L,
    sampleCap: Int = 100000,
    angular: Boolean = false,
    driverFitMaxSample: Int = IvfConfig.DefaultDriverFitMaxSample) {
  def ivfConfig: IvfConfig =
    IvfConfig(nCells, nProbe, iters, seed, sampleCap,
      driverFitMaxSample = driverFitMaxSample)
  def pqConfig: PqConfig =
    PqConfig(numSubvectors, codesPerSubvector, iters, seed, sampleCap)
}

final class IvfPqModel(val config: IvfPqConfig, val ivf: IvfModel,
                       val pq: PqModel) extends Serializable {

  def dims: Int = pq.dims

  /** Angular mode quantizes the unit sphere (cosine ranking == L2
    * ranking on normalized vectors) — same normalize-first semantics as
    * [[graft.ann.lsh.LshModel.hashes]], zero-norm vectors pass through. */
  private def maybeNormalize(v: Array[Double]): Array[Double] = {
    if (!config.angular) return v
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n <= graft.functions.VectorFunctions.Tol) v
    else {
      val out = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { out(j) = v(j) / n; j += 1 }
      out
    }
  }

  /** `v - centroid(cell)`, fresh array. */
  def residual(v: Array[Double], cell: Int): Array[Double] = {
    val c = ivf.centroids(cell)
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
    out
  }

  /** Driver-side encode: (cell, residual PQ codes). */
  def encode(v0: Array[Double]): (Int, Array[Int]) = {
    val v = maybeNormalize(v0)
    val cell = ivf.cellOf(v)
    (cell, pq.encode(residual(v, cell)))
  }

  /** Cell argmin + residual encode in one pass, reading elements straight
    * out of Tungsten ArrayData — the native-expression path
    * ([[IvfPqEncodeExpr]]); returns the STRUCT<cell, codes> row. */
  def encodeRowData(a: ArrayData, isFloat: Boolean): InternalRow = {
    var v = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    v = maybeNormalize(v)
    val cell = ivf.cellOf(v)
    val c = ivf.centroids(cell)
    i = 0
    while (i < dims) { v(i) -= c(i); i += 1 }
    InternalRow(cell, new GenericArrayData(pq.encode(v)))
  }

  /** `(vec_id, cell, codes)` — the compressed, cell-pruned corpus.
    * Map-side only, one native codegen expression per row. */
  def transform(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"),
        IvfPqExpressions.ivfPqEncode(this, col(vecCol)).as("enc"))
      .select(col("vec_id"), col("enc.cell").as("cell"),
        col("enc.codes").as("codes"))

  /** Residual ADC table provider: ships the model + normalized query
    * vectors (KBs-MBs) and builds each (query, probed-cell) m x k table
    * lazily executor-side with bounded memoization — the eager
    * driver-side form is Q x nProbe x m x k doubles and OOMs at scale
    * (see [[IvfPqAdcTables]]). */
  def adcTables(qRows: Array[(Long, Array[Double])]): IvfPqAdcTables =
    new IvfPqAdcTables(this, qRows.map { case (id, v) => id -> maybeNormalize(v) })
}

final class IvfPqIndex(val model: IvfPqModel, val codes: DataFrame) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus size, counted once on first rerank (one codes-only scan);
    * feeds the advisory depth rule only. */
  private lazy val corpusCount = codes.count()

  /** The SCALE.md rerank-depth rule as a testable predicate: a
    * quantized scan orders candidates only COARSELY, so `rerankDepth`
    * must scale with the rows actually probed
    * (corpus × nProbe / nCells), never sit at a fixed constant —
    * measured on the 1M matrix (SCALE.md), recall holds at depth
    * ≳ 2.5% of probed rows and decays below it. */
  def rerankDepthShallow(rerankDepth: Int, corpus: Long): Boolean =
    rerankDepth < 0.025 * corpus * model.config.nProbe / model.config.nCells

  private def warnIfShallow(rerankDepth: Int): Unit =
    if (rerankDepthShallow(rerankDepth, corpusCount)) {
      val probed =
        corpusCount.toDouble * model.config.nProbe / model.config.nCells
      log.warn(
        f"rerankDepth=$rerankDepth is below 2.5%% of expected probed rows " +
          f"(~$probed%.0f = $corpusCount x nProbe/nCells): the quantized " +
          "scan orders only coarsely, so rerank recall degrades — scale " +
          "rerankDepth with probed rows (SCALE.md rerank-depth rule).")
    }

  /** Batch IVF-ADC search: probe rows (query_id, cell) broadcast into an
    * equi-join on the codes table's `cell` — the scan touches
    * ~nProbe/nCells of the corpus and reads only codes; distance is m
    * residual-table lookups per candidate; bounded per-query top-k.
    *
    * `queries` is evaluated exactly ONCE: the collected rows feed both
    * the ADC-table provider and the probe generation (a local relation),
    * so a nondeterministic queries plan (e.g. limit without orderBy)
    * cannot yield probe rows whose query_id is absent from the ADC
    * tables. The collect is bounded at [[IvfPq.MaxQueryBatch]] rows —
    * the "queries are the small side" contract as a named error rather
    * than a silent driver OOM. */
  /** `codesFilter`: constrained (metadata-filtered) search for the
    * compressed index. Unlike LSH/IVF's bounded-candidate allow-list
    * join, the ADC scan touches a corpus-scale fraction — so the
    * scale-right form is a SCAN-SIDE predicate over the codes table:
    * store the filterable metadata WITH the codes (join it once at
    * build time — the filtered-DiskANN layout) and the predicate
    * pushes into the parquet scan, zero joins, disallowed rows never
    * scored and never consuming top-k/rerank slots. */
  def searchAll(queries: DataFrame, k: Int, roundTo: Int = 6,
                codesFilter: Option[Column] = None): DataFrame = {
    import queries.sparkSession.implicits._
    val qRows = queries
      .select(col("query_id").cast(LongType),
        col("qv").cast(ArrayType(DoubleType)))
      .limit(IvfPq.MaxQueryBatch + 1)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(qRows.length <= IvfPq.MaxQueryBatch,
      s"IvfPqIndex.searchAll collects the query set driver-side for ADC " +
        s"tables and got over ${IvfPq.MaxQueryBatch} rows — queries are " +
        "contractually the small side; batch larger query sets externally")
    val tables = model.adcTables(qRows)
    // probe generation runs the IvfProbesExpr over the qv column, which
    // expects the quantized space — normalize first in angular mode
    val qLocal = qRows.toSeq.toDF("query_id", "qv")
    val probeInput =
      if (!model.config.angular) qLocal
      else qLocal.withColumn("qv",
        graft.functions.VectorFunctions.l2Normalize(col("qv")))
    val probes = model.ivf.probeRows(probeInput, "query_id", "qv")
      .select(col("query_id"), col("cell"))
    // cluster the scan by cell before scoring (map-side local sort, no
    // shuffle): candidate rows then hit the lazy ADC cache in cell runs —
    // each (query, cell) table is built once per run instead of being
    // evicted and rebuilt as corpus-ordered rows interleave cells. This
    // is the DataFrame form of scanning IVF inverted lists list-by-list;
    // codes loaded from the partitionBy(cell) layout are already
    // clustered and the sort is a near-no-op.
    val scanned = codesFilter.fold(codes)(f => codes.where(f))
    val scored = scanned
      .sortWithinPartitions("cell")
      .join(broadcast(probes), "cell")
      .select(col("query_id"), col("vec_id"),
        round(IvfPqExpressions.ivfPqAdcDist(tables, col("query_id"),
          col("cell"), col("codes")), roundTo).as("dist"))
    TopK.perQueryTopK(scored, k)
  }

  /** The deployment shape: ADC over the cell-pruned codes retrieves
    * `rerankDepth` candidates, then ONLY those rows touch the float
    * vectors for exact re-ranking — bounded at rerankDepth x |queries|
    * rows, broadcast so the corpus-sized float table is probed in place,
    * never shuffled. The rerank join re-reads `queries` for its qv side
    * (only [[searchAll]] pins a single evaluation), so pass a
    * deterministic queries plan here — a nondeterministic one can change
    * query_ids between the ADC pass and the rerank join and silently
    * drop rows. */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100, roundTo: Int = 6,
                   codesFilter: Option[Column] = None): DataFrame = {
    warnIfShallow(rerankDepth)
    val cands = searchAll(queries, rerankDepth, roundTo, codesFilter)
      .select("query_id", "vec_id")
    // angular mode reranks by exact cosine distance (scale-invariant, so
    // the raw float vectors need no normalization here); L2 otherwise
    val distCol =
      if (model.config.angular)
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

  /** Per-cell code-table occupancy (diagnostics, mirrors
    * [[graft.ann.ivf.IvfIndex.cellStats]]). */
  def cellStats: DataFrame =
    codes.groupBy("cell").agg(count(lit(1)).as("n_vectors")).orderBy("cell")

  /** Serve-time delete view (tombstone pattern, semantics and scale
    * shape as [[graft.ann.lsh.LshIndex.withDeletes]]); composes with
    * `codesFilter` (the view filters ids, the predicate filters the
    * scan — both land before any ADC lookup). */
  def withDeletes(tombstones: DataFrame): IvfPqIndex =
    new IvfPqIndex(model,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  /** Incremental append: cell-assign + residual-encode arrivals
    * (vec_id, embedding) with BOTH quantizers frozen — map-side,
    * union-only. Freshness caveats compose from the parts: drifted
    * arrivals pile into few cells ([[graft.ann.ivf.IvfIndex.append]])
    * AND their residuals quantize against stale sub-codebooks
    * ([[graft.ann.pq.PqIndex.append]]); [[cellStats]]-style occupancy
    * drift is the retrain watermark. */
  def append(arrivals: DataFrame): IvfPqIndex =
    new IvfPqIndex(model,
      codes.unionByName(model.transform(arrivals, "vec_id", "embedding")))

  /** Upsert = tombstone-then-append (see
    * [[graft.ann.lsh.LshIndex.upsert]]). */
  def upsert(updates: DataFrame): IvfPqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** Persist both quantizers + the codes table; codes are written
    * `partitionBy(cell)` so a probe of nProbe cells prunes to nProbe
    * partition directories at rest (same layout rationale as
    * [[graft.ann.ivf.IvfIndex.save]]). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val m = model
    m.ivf.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    m.pq.codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) }
    }.toSeq
      .toDF("subvector", "code", "centroid")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((m.config.nCells, m.config.nProbe, m.config.numSubvectors,
      m.config.codesPerSubvector, m.config.iters, m.config.seed,
      m.config.sampleCap, m.config.angular, m.dims))
      .toDF("n_cells", "n_probe", "num_subvectors", "codes_per_subvector",
        "iters", "seed", "sample_cap", "angular", "dims")
      .write.mode("overwrite").parquet(s"$path/meta")
    codes
      .repartition(col("cell"))
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/codes")
  }
}

object IvfPq {

  /** Hard ceiling on the query rows [[IvfPqIndex.searchAll]] will
    * collect driver-side (same contract and rationale as
    * [[graft.ann.pq.Pq.MaxQueryBatch]]). */
  val MaxQueryBatch: Int = 65536

  /** Reopen a saved index — layout defined by [[IvfPqIndex.save]]. */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    import spark.implicits._
    val meta = spark.read.parquet(at("meta")).head()
    val config = IvfPqConfig(
      nCells = meta.getAs[Int]("n_cells"),
      nProbe = meta.getAs[Int]("n_probe"),
      numSubvectors = meta.getAs[Int]("num_subvectors"),
      codesPerSubvector = meta.getAs[Int]("codes_per_subvector"),
      iters = meta.getAs[Int]("iters"),
      seed = meta.getAs[Long]("seed"),
      sampleCap = meta.getAs[Int]("sample_cap"),
      angular = meta.getAs[Boolean]("angular"))
    val dims = meta.getAs[Int]("dims")
    val centroids = spark.read.parquet(at("centroids"))
      .select($"cell", $"centroid").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    val cbRows = spark.read.parquet(at("codebooks"))
      .select($"subvector", $"code", $"centroid")
      .as[(Int, Int, Seq[Double])].collect()
    val codebooks = Array.tabulate(config.numSubvectors) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3.toArray)
    }
    val codes = spark.read.parquet(at("codes"))
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("codes"))
    new IvfPqIndex(new IvfPqModel(config,
      new IvfModel(config.ivfConfig, centroids),
      new PqModel(config.pqConfig, dims, codebooks)), codes)
  }

  /** One seeded sample fits both quantizers: cells over the raw vectors,
    * then per-subvector codebooks over the SAMPLE'S residuals (what the
    * codes will actually quantize).
    *
    * Past `driverFitMaxSample`, the COARSE quantizer fits distributed
    * ([[Ivf.fitCentroidsDistributed]] — the sample never leaves the
    * executors) and only a driver-bounded SUB-sample is collected for
    * the residual codebooks: codebooks are codesPerSubvector × subDim
    * means whose estimation saturates long before millions of rows, so
    * capping their sample costs recall nothing measurable
    * (DistributedFitSpec pins parity), while the coarse cells — which
    * set the pruning geometry the whole index serves through — still
    * see the full sample. */
  def fit(df: DataFrame, vecCol: String, config: IvfPqConfig): IvfPqModel = {
    val total = df.count()
    val sampled =
      if (total <= config.sampleCap) df
      else df.sample(withReplacement = false,
        fraction = config.sampleCap.toDouble / total, seed = config.seed)
    val effective = math.min(total, config.sampleCap.toLong)
    if (effective > config.driverFitMaxSample)
      return fitDistributedCoarse(sampled, effective, vecCol, config)
    val raw = FitSample.collectVectors(sampled, vecCol)
    // angular: both quantizers fit the unit sphere (same space the
    // transform/search paths normalize into)
    val vecs = if (!config.angular) raw else raw.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n <= graft.functions.VectorFunctions.Tol) v else v.map(_ / n)
    }
    val dims = vecs(0).length
    require(dims % config.numSubvectors == 0,
      s"dims $dims must divide into ${config.numSubvectors} subvectors")
    val ivfModel = new IvfModel(config.ivfConfig,
      Ivf.lloyd(vecs, config.nCells, config.iters))
    new IvfPqModel(config, ivfModel,
      new PqModel(config.pqConfig, dims,
        residualCodebooks(vecs, ivfModel, config)))
  }

  /** Per-subvector residual codebooks over an in-memory (already
    * normalized) sample against FIXED coarse centroids — shared by the
    * driver and distributed-coarse fit paths. Codebooks are
    * independent: fit concurrently (same pattern as Pq.fit), each a
    * deterministic Lloyd's over the residuals; ParallelFit propagates
    * failures. */
  private def residualCodebooks(vecs: Array[Array[Double]],
                                ivfModel: IvfModel, config: IvfPqConfig)
      : Array[Array[Array[Double]]] = {
    val dims = vecs(0).length
    val residuals = vecs.map { v =>
      val c = ivfModel.centroids(ivfModel.cellOf(v))
      val out = new Array[Double](dims)
      var i = 0
      while (i < dims) { out(i) = v(i) - c(i); i += 1 }
      out
    }
    val subDim = dims / config.numSubvectors
    val codebooks = new Array[Array[Array[Double]]](config.numSubvectors)
    graft.ann.ParallelFit.run(config.numSubvectors) { s =>
      val sub = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      codebooks(s) = Ivf.lloyd(sub, config.codesPerSubvector, config.iters)
    }
    codebooks
  }

  /** The past-driver-bound fit path (see [[fit]]'s scaladoc): coarse
    * cells from the distributed k-means over the FULL sample, residual
    * codebooks from a driver-bounded sub-sample. */
  private def fitDistributedCoarse(sampled: DataFrame, effective: Long,
                                   vecCol: String,
                                   config: IvfPqConfig): IvfPqModel = {
    val ivfModel = new IvfModel(config.ivfConfig,
      Ivf.fitCentroidsDistributed(sampled, vecCol, config.nCells,
        config.iters, config.seed, config.angular))
    val sub = sampled.sample(withReplacement = false,
      fraction = math.min(1.0,
        config.driverFitMaxSample.toDouble / effective),
      seed = config.seed + 1)
    val raw = FitSample.collectVectors(sub, vecCol)
    // a degenerate driverFitMaxSample (e.g. 1, used by tests to force
    // this path) can make the fraction sample return zero rows — fail
    // with the config's name, not an ArrayIndexOutOfBounds at vecs(0)
    require(raw.nonEmpty,
      s"fitDistributedCoarse: the residual-codebook sub-sample is empty " +
        s"(driverFitMaxSample=${config.driverFitMaxSample} over " +
        s"$effective sampled rows) — raise driverFitMaxSample; the " +
        "codebook fit needs a non-empty driver-side sample even when " +
        "the coarse fit runs distributed")
    val vecs = if (!config.angular) raw else raw.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n <= graft.functions.VectorFunctions.Tol) v else v.map(_ / n)
    }
    val dims = vecs(0).length
    require(dims % config.numSubvectors == 0,
      s"dims $dims must divide into ${config.numSubvectors} subvectors")
    new IvfPqModel(config, ivfModel,
      new PqModel(config.pqConfig, dims,
        residualCodebooks(vecs, ivfModel, config)))
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            config: IvfPqConfig = IvfPqConfig()): IvfPqIndex = {
    val model = fit(df, vecCol, config)
    new IvfPqIndex(model, model.transform(df, idCol, vecCol))
  }
}
