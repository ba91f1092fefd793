package graft.ann.pq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShim
import org.apache.spark.sql.graftshim.SparkShim.AbstractDataType
import org.apache.spark.sql.types._

import graft.ann.{ModelBroadcast, TopK}

/** Optimized Product Quantization (OPQ): a learned orthogonal rotation
  * applied before PQ so the subvector split lines up with the data's
  * principal directions instead of the raw coordinate order (Ge,
  * He, Ke, Sun, "Optimized Product Quantization", CVPR 2013 — the
  * non-parametric OPQ-NP variant). PQ's blind d/m split is the
  * reference family's known weak spot on correlated dimensions: when
  * variance concentrates in a few dims, some subquantizers burn their
  * code budget on noise while others saturate. The rotation
  * redistributes variance across subspaces at zero serve-time cost
  * beyond one map-side matrix-vector product.
  *
  * Fit is the standard alternation, warm-started from the PLAIN PQ
  * solution (rotation = identity, the same seeded Lloyd's as
  * [[Pq.fit]]), so every step is non-increasing in sample
  * quantization error:
  *
  *   1. re-encode the rotated sample (argmin per subspace — cannot
  *      increase error);
  *   2. orthogonal Procrustes: with reconstructions Y fixed, the
  *      rotation minimizing ||X·R − Y||_F is R = U·Vᵀ from the SVD
  *      X·ᵀY = U·S·Vᵀ (breeze, driver-side on the d×d cross-matrix);
  *   3. warm-started Lloyd refresh of each subspace codebook (means
  *      of current assignments — cannot increase error).
  *
  * Monotonicity makes `sampleError(opq) <= sampleError(pq)` a HARD
  * contract (spec-pinned), not a hope: on isotropic data OPQ degrades
  * to plain PQ; on anisotropic data the gap is the win.
  *
  * Scale shape: the fit is driver-side over the same `sampleCap`
  * sample every k-means family uses; the rotation rides to executors
  * as one broadcast d×d matrix and both encode (build) and query
  * rotation (serve) are map-side native expressions — nothing about
  * PQ's 100 TB scan story changes. The rotated space is L2-isometric
  * (RᵀR = I), so exact rerank and recall grading run on the ORIGINAL
  * vectors unchanged.
  */
object Opq {

  /** Orthogonal rotation, row convention: out[k] = Σ_j v[j]·r(j)(k)
    * (y = x·R for row vectors x). */
  final class RotationMatrix(val r: Array[Array[Double]]) extends Serializable {
    val dims: Int = r.length

    def apply(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](dims)
      var j = 0
      while (j < dims) {
        val x = v(j); val row = r(j)
        if (x != 0.0) {
          var k = 0
          while (k < dims) { out(k) += x * row(k); k += 1 }
        }
        j += 1
      }
      out
    }

    /** Rotation reading float/double elements straight out of Tungsten
      * ArrayData (the native-expression path, same standard as
      * [[PqModel.encodeData]]). */
    def rotateData(a: ArrayData, isFloat: Boolean): Array[Double] = {
      val v = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        i += 1
      }
      apply(v)
    }
  }

  /** ARRAY<DOUBLE> rotated vector — map-side, codegen, one broadcast
    * matrix per executor. */
  case class OpqRotateExpr(child: Expression, bcast: Broadcast[RotationMatrix])
      extends UnaryExpression with ExpectsInputTypes {

    override def prettyName: String = "opq_rotate"

    @transient private lazy val rot: RotationMatrix = bcast.value

    override def inputTypes: Seq[AbstractDataType] =
      Seq(SparkShim.typeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(av: Any): Any =
      new GenericArrayData(rot.rotateData(av.asInstanceOf[ArrayData], isFloat))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bref = ctx.addReferenceObj("opqBcast", bcast,
        classOf[Broadcast[RotationMatrix]].getName)
      val cls = classOf[RotationMatrix].getName
      val rref = ctx.addMutableState(cls, "opqRot", v => s"$v = ($cls) $bref.value();")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $rref.rotateData($a, $isFloat));""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def rotateCol(rot: RotationMatrix, v: Column): Column =
    SparkShim.column(OpqRotateExpr(SparkShim.expression(v), ModelBroadcast.of(rot)))

  final class OpqModel(val rotation: RotationMatrix, val pq: PqModel)
      extends Serializable {
    /** (id, codes) of the ROTATED input — map-side rotate-then-encode,
      * both native expressions in one projection. */
    def transform(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol).as("vec_id"),
        PqExpressions.pqEncode(pq, rotateCol(rotation, col(vecCol))).as("codes"))
  }

  /** Mean squared quantization error of `vecs` under (R, codebooks) —
    * the quantity the alternation monotonically decreases and the spec
    * compares against plain PQ. */
  def sampleError(vecs: Array[Array[Double]], model: OpqModel): Double = {
    val errs = parMap(vecs) { v =>
      val y = model.rotation(v)
      val rec = model.pq.decode(model.pq.encode(y).toSeq)
      var s = 0.0; var k = 0
      while (k < y.length) { val d = y(k) - rec(k); s += d * d; k += 1 }
      s
    }
    errs.sum / vecs.length
  }

  /** One warm-started Lloyd round per subspace: reassign (argmin, ties
    * by lowest code — [[PqModel.encode]]'s own rule) then recompute
    * means; an emptied centroid keeps its previous position. Both
    * half-steps are non-increasing in quantization error, which is what
    * lets the OPQ alternation keep the ≤-plain-PQ contract. */
  private def warmLloydRound(sub: Array[Array[Double]],
                             cb: Array[Array[Double]]): Array[Array[Double]] = {
    val k = cb.length
    val sd = cb(0).length
    val sums = Array.ofDim[Double](k, sd)
    val counts = new Array[Int](k)
    var i = 0
    while (i < sub.length) {
      val v = sub(i)
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0; var j = 0
        val cc = cb(c)
        while (j < sd && d < bd) { val x = v(j) - cc(j); d += x * x; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      val srow = sums(best)
      var j = 0
      while (j < sd) { srow(j) += v(j); j += 1 }
      counts(best) += 1
      i += 1
    }
    Array.tabulate(k) { c =>
      if (counts(c) == 0) cb(c)
      else { val out = new Array[Double](sd); var j = 0
        while (j < sd) { out(j) = sums(c)(j) / counts(c); j += 1 }; out }
    }
  }

  /** Driver-side fit parallelism: the alternation's hot loops (sample
    * rotate/re-encode, the d×d cross-matrix) are embarrassingly
    * row-parallel; chunk them like the per-subvector Lloyd already is.
    * At 784-d the single-threaded fit was wall-dominated by exactly
    * these loops. FIXED chunk count, not availableProcessors: the
    * cross-matrix partials are combined chunk-by-chunk, so a
    * machine-dependent chunk count would make the float summation
    * order — and hence the fitted rotation — machine-dependent. */
  private val FitThreads: Int = 16

  private def parMap[T: scala.reflect.ClassTag](
      xs: Array[Array[Double]])(f: Array[Double] => T): Array[T] = {
    val out = new Array[T](xs.length)
    val chunks = math.min(FitThreads, math.max(1, xs.length))
    graft.ann.ParallelFit.run(chunks) { c =>
      var i = c
      while (i < xs.length) { out(i) = f(xs(i)); i += chunks }
    }
    out
  }

  /** Procrustes step: rotation minimizing ||X·R − Y||_F over orthogonal
    * R, i.e. R = U·Vᵀ with XᵀY = U·S·Vᵀ (d×d SVD, driver-side —
    * breeze ships with Spark). The cross-matrix accumulates per-thread
    * partials, then sums. */
  private def procrustes(xs: Array[Array[Double]],
                         ys: Array[Array[Double]]): RotationMatrix = {
    val d = xs(0).length
    val chunks = math.min(FitThreads, math.max(1, xs.length))
    val partials = new Array[Array[Array[Double]]](chunks)
    graft.ann.ParallelFit.run(chunks) { c =>
      val p = Array.ofDim[Double](d, d)
      var i = c
      while (i < xs.length) {
        val x = xs(i); val y = ys(i)
        var a = 0
        while (a < d) {
          val xa = x(a)
          if (xa != 0.0) {
            val row = p(a)
            var b = 0
            while (b < d) { row(b) += xa * y(b); b += 1 }
          }
          a += 1
        }
        i += chunks
      }
      partials(c) = p
    }
    val m = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    partials.foreach { p =>
      var a = 0
      while (a < d) {
        var b = 0
        while (b < d) { m(a, b) += p(a)(b); b += 1 }
        a += 1
      }
    }
    try {
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(m)
      val rm = u * vt
      new RotationMatrix(Array.tabulate(d, d)((a, b) => rm(a, b)))
    } catch {
      // LAPACK's divide-and-conquer dgesdd can refuse to converge on
      // ill-conditioned cross-matrices (tiled/correlated data makes M's
      // spectrum span many decades). The polar factor is all Procrustes
      // needs, and one-sided Jacobi computes it deterministically for
      // any conditioning — slower, but only the fallback path pays.
      case _: breeze.linalg.NotConvergedException =>
        new RotationMatrix(polarJacobi(
          Array.tabulate(d, d)((a, b) => m(a, b))))
    }
  }

  /** Polar (orthogonal) factor of a square matrix by one-sided Jacobi:
    * right-rotate columns of G = M·V until pairwise orthogonal, so
    * M = U·S·Vᵀ with U = normalized G columns — polar factor U·Vᵀ.
    * Rank-deficient directions (column norm ~ 0 after sweeps) get any
    * orthonormal completion: those directions carry no reconstruction
    * mass, so every completion is an equally optimal Procrustes
    * solution. Deterministic: fixed sweep order, fixed tolerances. */
  private[pq] def polarJacobi(mIn: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mIn.length
    // column-major copies: g(j) = column j of M; v accumulates rotations
    val g = Array.tabulate(d, d)((j, i) => mIn(i)(j))
    val v = Array.tabulate(d, d)((j, i) => if (i == j) 1.0 else 0.0)
    val tol = 1e-14
    var sweep = 0
    var rotated = true
    while (sweep < 64 && rotated) {
      rotated = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val gp = g(p); val gq = g(q)
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < d) {
            val x = gp(i); val y = gq(i)
            app += x * x; aqq += y * y; apq += x * y
            i += 1
          }
          if (math.abs(apq) > tol * math.sqrt(app * aqq) && apq != 0.0) {
            rotated = true
            val tau = (aqq - app) / (2.0 * apq)
            val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            val vp = v(p); val vq = v(q)
            i = 0
            while (i < d) {
              val x = gp(i); val y = gq(i)
              gp(i) = c * x - s * y; gq(i) = s * x + c * y
              val a = vp(i); val b = vq(i)
              vp(i) = c * a - s * b; vq(i) = s * a + c * b
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // normalize columns of G into U; complete rank-deficient columns by
    // Gram-Schmidt over the standard basis (deterministic order)
    val maxNorm = math.sqrt(
      (0 until d).map(j => g(j).map(x => x * x).sum).max max Double.MinPositiveValue)
    val u = Array.ofDim[Double](d, d) // column-major like g
    val deficient = scala.collection.mutable.ArrayBuffer[Int]()
    var j = 0
    while (j < d) {
      val n2 = g(j).map(x => x * x).sum
      if (math.sqrt(n2) > 1e-12 * maxNorm) {
        val inv = 1.0 / math.sqrt(n2)
        var i = 0
        while (i < d) { u(j)(i) = g(j)(i) * inv; i += 1 }
      } else deficient += j
      j += 1
    }
    var basis = 0
    deficient.foreach { jj =>
      var done = false
      while (!done && basis < d) {
        val w = new Array[Double](d)
        w(basis) = 1.0
        var k = 0
        while (k < d) {
          if (!deficient.contains(k) || k < jj) {
            val uk = u(k)
            var dot = 0.0; var i = 0
            while (i < d) { dot += w(i) * uk(i); i += 1 }
            if (dot != 0.0) { i = 0; while (i < d) { w(i) -= dot * uk(i); i += 1 } }
          }
          k += 1
        }
        val n2 = w.map(x => x * x).sum
        if (math.sqrt(n2) > 1e-6) {
          val inv = 1.0 / math.sqrt(n2)
          var i = 0
          while (i < d) { u(jj)(i) = w(i) * inv; i += 1 }
          done = true
        }
        basis += 1
      }
      require(done, "polarJacobi: failed to complete an orthonormal basis")
    }
    // R = U · Vᵀ, both held column-major: R(i)(k) = Σ_j u(j)(i) · v(j)(k)
    val out = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var k = 0
      while (k < d) {
        var s2 = 0.0; var jj = 0
        while (jj < d) { s2 += u(jj)(i) * v(jj)(k); jj += 1 }
        out(i)(k) = s2
        k += 1
      }
      i += 1
    }
    out
  }

  /** Seeded random orthogonal matrix: QR of a seeded Gaussian (the
    * Haar-ish init OPQ-NP needs to escape the identity basin). */
  private def randomRotation(dims: Int, seed: Long): RotationMatrix = {
    val rnd = new java.util.Random(seed)
    val g = breeze.linalg.DenseMatrix.tabulate[Double](dims, dims)(
      (_, _) => rnd.nextGaussian())
    val breeze.linalg.qr.QR(q, _) = breeze.linalg.qr(g)
    new RotationMatrix(Array.tabulate(dims, dims)((a, b) => q(a, b)))
  }

  /** The OPQ-NP alternation from one (rotation, codebooks) start:
    * every step (re-encode, Procrustes with reconstructions fixed,
    * warm Lloyd) is non-increasing in sample quantization error. */
  private def alternate(vecs: Array[Array[Double]], config: PqConfig,
                        opqIters: Int, rot0: RotationMatrix,
                        cbs0: Array[Array[Array[Double]]]): OpqModel = {
    val dims = vecs(0).length
    val subDim = dims / config.numSubvectors
    var rot = rot0
    var codebooks = cbs0
    var it = 0
    while (it < opqIters) {
      val model = new PqModel(config, dims, codebooks)
      val r = rot
      // reconstructions under current (R, codebooks)
      val recon = parMap(vecs)(v => model.decode(model.encode(r(v)).toSeq))
      rot = procrustes(vecs, recon)
      val r2 = rot
      val rerotated = parMap(vecs)(r2(_))
      val next = new Array[Array[Array[Double]]](config.numSubvectors)
      graft.ann.ParallelFit.run(config.numSubvectors) { s =>
        val sub = rerotated.map(y =>
          java.util.Arrays.copyOfRange(y, s * subDim, (s + 1) * subDim))
        var cb = codebooks(s)
        var r = 0
        while (r < config.iters) { cb = warmLloydRound(sub, cb); r += 1 }
        next(s) = cb
      }
      codebooks = next
      it += 1
    }
    new OpqModel(rot, new PqModel(config, dims, codebooks))
  }

  /** Fit rotation + codebooks on the [[PqConfig.sampleCap]]-bounded
    * sample (same sampling as [[Pq.fit]]). Runs the alternation from
    * `numInits` starts — the identity (warm-started at the plain-PQ
    * solution, so the best candidate can never be worse than PQ by
    * monotonicity) plus seeded random rotations (identity is a local
    * optimum whenever the winning split needs a large basis change,
    * e.g. pairing high-variance dims with low-variance ones — the
    * eigenvalue-allocation argument of Ge et al. §4) — and keeps the
    * lowest-sample-error candidate. Deterministic: seeds derive from
    * `config.seed`, ties go to the earlier init. */
  def fit(df: DataFrame, vecCol: String, config: PqConfig,
          opqIters: Int = 8, numInits: Int = 3): OpqModel = {
    // same sample + same codebook fit as Pq.fit, STRUCTURALLY — the
    // ≤-plain-PQ contract rests on the identity start being bit-
    // identical to the plain-PQ solution, so both halves are Pq's own
    val vecs = Pq.fitSample(df, vecCol, config)
    val dims = vecs(0).length

    val identity = new RotationMatrix(
      Array.tabulate(dims, dims)((a, b) => if (a == b) 1.0 else 0.0))
    val starts: Seq[RotationMatrix] = identity +:
      (1 until math.max(1, numInits)).map(i =>
        randomRotation(dims, config.seed * 7919L + i))
    // the starts are independent pure computations — run them
    // concurrently (each alternation is already subvector-parallel,
    // but the three starts ran back-to-back: the costliest driver-side
    // fit on the board, ~12 s at sf0.1, is wall-bounded by the SUM of
    // starts instead of the max). Results land in start order, so the
    // deterministic ties-to-earlier-init rule is unchanged.
    // Resource envelope: driver thread count and peak sample memory
    // scale as numInits × numSubvectors while the concurrent starts
    // run (each alternation is itself subvector-parallel and holds its
    // own codebook/rotation working set over the SHARED `vecs` sample)
    // — numInits is 3 by default and the sample is bounded by
    // Pq.fitSample's cap, so the multiplier is small by construction;
    // a caller raising numInits well past the default should size the
    // driver accordingly or run the extra starts in batches.
    val candidates =
      new Array[(Double, OpqModel)](starts.length)
    graft.ann.ParallelFit.run(starts.length) { i =>
      val r0 = starts(i)
      val model = alternate(vecs, config, opqIters, r0,
        Pq.fitCodebooks(parMap(vecs)(r0(_)), config))
      candidates(i) = (Opq.sampleError(vecs, model), model)
    }
    candidates.minBy(_._1)._2
  }

  /** The pay-decision advisor SCALE.md's OPQ verdict prescribes:
    * measure the per-subspace variance imbalance of the blind d/m
    * split PQ would use BEFORE paying the OPQ fit (80 s at 784-d vs
    * PQ's 3.4 s). One corpus/sample scan — per-dim population variance
    * via posexplode + aggregation (dims result rows), grouped
    * driver-side into the m contiguous subspaces, returning
    * max(subspace variance total) / mean(subspace variance totals).
    *
    * ≈ 1.0: the blind split already balances variance — OPQ measured
    * as a wash there (tiled / near-isotropic corpora; SCALE.md's 60k
    * rows). ≫ 1: variance concentrates in few subspaces — the regime
    * where the rotation's win lives (the anisotropic spec corpus
    * measures > 2.5 and OPQ cuts sample error > 10%). */
  def varianceSpread(df: DataFrame, vecCol: String,
                     numSubvectors: Int): Double = {
    val perDim = df
      .select(posexplode(col(vecCol).cast(ArrayType(DoubleType))))
      .groupBy("pos")
      .agg((avg(col("col") * col("col")) - avg("col") * avg("col")).as("v"))
      .orderBy("pos")
      .collect().map(_.getDouble(1))
    val dims = perDim.length
    require(dims > 0, "varianceSpread over an empty corpus")
    require(dims % numSubvectors == 0,
      s"dims $dims must divide into $numSubvectors subvectors")
    val totals = perDim.grouped(dims / numSubvectors).map(_.sum).toArray
    val mean = totals.sum / totals.length
    if (mean <= 0.0) 1.0 else totals.max / mean
  }

  def train(df: DataFrame, idCol: String, vecCol: String,
            config: PqConfig = PqConfig(), opqIters: Int = 8): OpqIndex = {
    val model = fit(df, vecCol, config, opqIters)
    new OpqIndex(model, model.transform(df, idCol, vecCol))
  }

  /** Rotation persistence shared by [[OpqIndex.save]] and
    * [[graft.ann.ivfpq.IvfOpqIndex.save]]: (row, col, value) parquet. */
  private[ann] def saveRotation(spark: SparkSession, path: String,
                                rot: RotationMatrix): Unit = {
    import spark.implicits._
    val r = rot.r
    r.indices.flatMap(a => r(a).indices.map(b => (a, b, r(a)(b))))
      .toDF("row", "col", "value")
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  /** The inverse of [[saveRotation]]. The row count AND the distinct
    * (row, col) cell count are checked against d×d: a partial rotation
    * dump (interrupted save, lost part-file) would otherwise zero-fill
    * missing cells — and a dump with duplicated cells masking missing
    * ones would pass a total-count-only check — either way serving a
    * silently non-orthogonal matrix. */
  private[ann] def loadRotation(spark: SparkSession, path: String,
                                d: Int): RotationMatrix = {
    val at = graft.ann.LsmStore.baseDir(spark, path)
    val rows = spark.read.parquet(at("rotation"))
      .select(col("row").cast("int"), col("col").cast("int"), col("value"))
      .collect()
    require(rows.length == d * d,
      s"Opq.loadRotation: rotation at ${at("rotation")} has ${rows.length} " +
        s"entries, expected ${d * d} (${d}x$d) — partial or corrupt dump")
    val distinctCells = rows.map(x => (x.getInt(0), x.getInt(1))).distinct.length
    require(distinctCells == d * d,
      s"Opq.loadRotation: rotation at ${at("rotation")} has $distinctCells " +
        s"distinct (row, col) cells, expected ${d * d} — duplicated cells " +
        "are masking missing ones (corrupt dump)")
    val r = Array.ofDim[Double](d, d)
    rows.foreach(x => r(x.getInt(0))(x.getInt(1)) = x.getDouble(2))
    new RotationMatrix(r)
  }

  /** Reopen a saved index — layout defined by [[OpqIndex.save]]:
    * [[Pq.load]]'s layout plus the [[saveRotation]] table. */
  def load(spark: SparkSession, path: String): OpqIndex = {
    val pqIdx = Pq.load(spark, path)
    val rot = loadRotation(spark, path, pqIdx.model.dims)
    new OpqIndex(new OpqModel(rot, pqIdx.model), pqIdx.codes)
  }
}

/** Serving wrapper: identical contract to [[PqIndex]] with queries
  * rotated map-side on the way in. Distances reported by ADC live in
  * the rotated space, which is the SAME metric space (orthogonal
  * invariance), so downstream rerank/grading against original vectors
  * is unchanged. */
final class OpqIndex(val model: Opq.OpqModel, val codes: DataFrame) {

  private def inner = new PqIndex(model.pq, codes)

  private def rotated(queries: DataFrame): DataFrame =
    queries.select(col("query_id"),
      Opq.rotateCol(model.rotation, col("qv")).as("qv"))

  def searchAll(queries: DataFrame, k: Int, roundTo: Int = 6): DataFrame =
    inner.searchAll(rotated(queries), k, roundTo)

  /** ADC candidates from rotated codes, exact rerank on ORIGINAL float
    * vectors (isometry makes the two spaces rank-identical under exact
    * distances). */
  def searchRerank(queries: DataFrame, vectors: DataFrame, k: Int,
                   rerankDepth: Int = 100, roundTo: Int = 6): DataFrame =
    Pq.exactRerankTail(searchAll(queries, rerankDepth).select("query_id", "vec_id"),
      queries, vectors, k, roundTo)

  /** Serve-time delete view / frozen-model append / upsert — the
    * uniform six-family lifecycle contract (CompressedLifecycleSpec).
    * Appends encode arrivals with the FROZEN rotation + codebooks. */
  def withDeletes(tombstones: DataFrame): OpqIndex =
    new OpqIndex(model,
      codes.join(broadcast(tombstones.select("vec_id")),
        Seq("vec_id"), "left_anti"))

  def append(arrivals: DataFrame): OpqIndex =
    new OpqIndex(model,
      codes.unionByName(model.transform(arrivals, "vec_id", "embedding")))

  def upsert(updates: DataFrame): OpqIndex =
    withDeletes(updates.select("vec_id")).append(updates)

  /** [[PqIndex.save]]'s layout plus the rotation as (row, col, value). */
  def save(spark: SparkSession, path: String): Unit = {
    inner.save(spark, path)
    Opq.saveRotation(spark, path, model.rotation)
  }
}
