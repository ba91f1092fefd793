package graft.ann.lsh

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.SparkShim
import org.apache.spark.sql.graftshim.SparkShim.AbstractDataType
import org.apache.spark.sql.types._

/** Native hash/probe expressions over the fitted forest — SURVEY.md §4's
  * "v2" upgrade from the Scala-UDF form (§7.3): the model rides into the
  * generated code (the codegen analog of the reference's shared
  * in-process Hasher), and the tree walk reads float/double elements
  * straight out of Tungsten ArrayData. Versus ScalaUDF this removes the
  * per-row encoder round-trip (ArrayData -> Seq[Double] boxing -> result
  * conversion) on the index-build path, which touches every corpus row.
  *
  * The model ships as a BROADCAST HANDLE, not a task-binary reference
  * object: a forest over a 400k-row 256-d fit sample is ~160 MB of plane
  * vectors, and shipping it per task meant every executor thread
  * deserialized its own copy — a measured 32 x 160 MB heap OOM on the
  * GloVe-scale probe (local[32], 8 GB). With `sc.broadcast` the payload
  * moves once per executor via torrent blocks and all tasks share the
  * single deserialized instance; codegen caches `bcast.value()` in a
  * per-operator mutable slot so the per-row cost is unchanged.
  * [[LshModelBroadcast.of]] memoizes one broadcast per model instance so
  * repeated `transform`/`searchAll` calls over the same index reuse it.
  */
object LshModelBroadcast {
  def of(model: LshModel): Broadcast[LshModel] =
    graft.ann.ModelBroadcast.of(model)
}

private[lsh] trait LshModelExpression extends UnaryExpression with ExpectsInputTypes {
  def bcast: Broadcast[LshModel]

  @transient protected lazy val model: LshModel = bcast.value

  override def inputTypes: Seq[AbstractDataType] =
    Seq(SparkShim.typeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** The model method invoked per row, e.g. "hashesData". */
  protected def methodName: String

  protected def evalData(a: ArrayData): Array[Long]

  // Nullable even for non-null input: a vector whose length differs
  // from the fitted dimension yields NULL (the distance kernels' rule),
  // never a hash read past the end of its array or from a prefix
  override def nullable: Boolean = true

  override def nullSafeEval(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    if (model.dims >= 0 && a.numElements() != model.dims) null
    else new GenericArrayData(evalData(a))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bref = ctx.addReferenceObj("lshBcast", bcast,
      classOf[Broadcast[LshModel]].getName)
    val modelCls = classOf[LshModel].getName
    // one value() fetch per operator instance, not per row
    val mref = ctx.addMutableState(modelCls, "lshModel",
      v => s"$v = ($modelCls) $bref.value();")
    nullSafeCodeGen(ctx, ev, a => {
      val hash =
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $mref.$methodName($a, $isFloat));""".stripMargin
      if (model.dims < 0) hash
      else
        s"""if ($a.numElements() != ${model.dims}) {
           |  ${ev.isNull} = true;
           |} else {
           |  $hash
           |}""".stripMargin
    })
  }
}

/** ARRAY<BIGINT> of the per-tree hashes of a vector (O6/O7). */
case class LshHashesExpr(child: Expression, bcast: Broadcast[LshModel])
    extends LshModelExpression {
  override def prettyName: String = "lsh_hashes"
  override protected def methodName: String = "hashesData"
  override protected def evalData(a: ArrayData): Array[Long] =
    model.hashesData(a, isFloat)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ARRAY<BIGINT> of 2*nTrees probe hashes: own bucket + highest-bit-flip
  * neighbor per tree (O13a). */
case class LshProbesExpr(child: Expression, bcast: Broadcast[LshModel])
    extends LshModelExpression {
  override def prettyName: String = "lsh_probes"
  override protected def methodName: String = "probesData"
  override protected def evalData(a: ArrayData): Array[Long] =
    model.probesData(a, isFloat)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A query batch's probes, built on the driver (the reference's bucket
  * lookup, lsh.go:156-168, turned inside out: the scan asks of each
  * stored row which queries probe its buckets). For tree t, `keys(t)`
  * holds the probed hashes in ascending order and `slots(t)(i)` the
  * slots of the queries probing `keys(t)(i)`; `queries(slot)` is that
  * query's row (`query_id`, `qv`, and a labeled search's `label`) in
  * Catalyst's internal form, typed `batchType`, so a match carries the
  * query vector with it. */
final class LshProbeMap private (keys: Array[Array[Long]],
                                 slots: Array[Array[Array[Int]]],
                                 queries: Array[InternalRow],
                                 val batchType: StructType) extends Serializable {

  /** The distinct queries whose probes contain one of `hashes`' buckets
    * (`hashes(t)` is tree t's). A NULL element is in no bucket of its
    * tree, and trees past either length match nothing, so a short, long
    * or partly NULL array is never read out of bounds. */
  def matchData(hashes: ArrayData): ArrayData = {
    val n = math.min(hashes.numElements(), keys.length)
    var seen: Array[Long] = null
    var found: Array[Int] = null
    var m = 0
    var t = 0
    while (t < n) {
      if (!hashes.isNullAt(t)) {
        val i = java.util.Arrays.binarySearch(keys(t), hashes.getLong(t))
        if (i >= 0) {
          val s = slots(t)(i)
          if (seen == null) {
            seen = new Array[Long]((queries.length + 63) >>> 6)
            found = new Array[Int](math.max(4, s.length))
          }
          var j = 0
          while (j < s.length) {
            val q = s(j)
            if ((seen(q >>> 6) & (1L << q)) == 0) {
              seen(q >>> 6) |= 1L << q
              if (m == found.length)
                found = java.util.Arrays.copyOf(found, math.min(queries.length, 2 * m))
              found(m) = q
              m += 1
            }
            j += 1
          }
        }
      }
      t += 1
    }
    if (m == 0) LshProbeMap.NoMatch
    else {
      val out = new Array[Any](m)
      var u = 0
      while (u < m) { out(u) = queries(found(u)); u += 1 }
      new GenericArrayData(out)
    }
  }
}

object LshProbeMap {
  private val NoMatch = new GenericArrayData(Array.empty[Any])

  /** The one builder: `batch` holds one row per query, typed
    * `batchType` (first field `query_id`, then what a match carries),
    * each with the `(tree, hash)` buckets it probes. A query with a
    * NULL id probes nothing, a repeated id keeps its first row, and a
    * tree outside `[0, nTrees)` is no bucket. */
  def apply(nTrees: Int, batchType: StructType,
            batch: Seq[(Row, Iterable[(Int, Long)])]): LshProbeMap = {
    val rows = batch.filterNot(_._1.isNullAt(0)).distinctBy(_._1.get(0))
    val toRow = SparkShim.toCatalyst(batchType)
    val perTree = Array.fill(nTrees)(
      scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.LinkedHashSet[Int]])
    for (((_, probes), slot) <- rows.zipWithIndex; (t, h) <- probes
         if t >= 0 && t < nTrees)
      perTree(t).getOrElseUpdate(h, scala.collection.mutable.LinkedHashSet.empty[Int]) += slot
    val sorted = perTree.map(_.toArray.sortBy(_._1))
    new LshProbeMap(sorted.map(_.map(_._1)), sorted.map(_.map(_._2.toArray)),
      rows.map(r => toRow(r._1).asInstanceOf[InternalRow]).toArray, batchType)
  }

  /** The probe map of a `(query_id, qv)` batch: the batch is collected
    * once (no job when it is local) with its probes, in
    * [[LshModel.probes]]' flat layout (2t = tree t's own bucket, 2t+1
    * its neighbor). A query of the wrong length (NULL probes) probes
    * nothing. */
  def of(model: LshModel, queries: DataFrame): LshProbeMap = {
    val q = queries.select(col("query_id"), col("qv"))
    val rows = q.withColumn("probes", LshExpressions.lshProbes(model, col("qv"))).collect()
    apply(model.trees.length, q.schema, rows.toSeq.map { r =>
      val probes = if (r.isNullAt(2)) Nil else r.getSeq[Long](2)
      Row(r.get(0), r.get(1)) -> probes.zipWithIndex.map { case (h, i) => (i / 2, h) }
    })
  }
}

/** The distinct batch rows (`query_id`, `qv`, …) whose probes match a
  * stored row's `hashes` (ARRAY<BIGINT>, tree t's bucket at t): the
  * candidate test of [[LshIndex.searchAll]] and
  * [[LabeledLshIndex.searchAllLabeled]] inside one pass over the LSH
  * table. The probe map rides into the generated code as a reference
  * object. */
case class LshProbeMatchExpr(child: Expression, probes: LshProbeMap)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "lsh_probe_match"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(probes.batchType, containsNull = false)
  override def nullSafeEval(av: Any): Any =
    probes.matchData(av.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshProbeMap", probes, classOf[LshProbeMap].getName)
    defineCodeGen(ctx, ev, a => s"$ref.matchData($a)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LshExpressions {
  import SparkShim.{column, expression}

  def lshHashes(model: LshModel, v: Column): Column =
    column(LshHashesExpr(expression(v), LshModelBroadcast.of(model)))

  def lshProbes(model: LshModel, v: Column): Column =
    column(LshProbesExpr(expression(v), LshModelBroadcast.of(model)))

  /** ARRAY of the batch rows of `probes` whose probes
    * contain one of `hashes`' buckets; NULL for a NULL `hashes`. */
  def lshProbeMatch(probes: LshProbeMap, hashes: Column): Column =
    column(LshProbeMatchExpr(expression(hashes), probes))
}
