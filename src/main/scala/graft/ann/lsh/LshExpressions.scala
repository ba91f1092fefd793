package graft.ann.lsh

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

object LshExpressions {
  import SparkShim.{column, expression}

  def lshHashes(model: LshModel, v: Column): Column =
    column(LshHashesExpr(expression(v), LshModelBroadcast.of(model)))

  def lshProbes(model: LshModel, v: Column): Column =
    column(LshProbesExpr(expression(v), LshModelBroadcast.of(model)))
}
