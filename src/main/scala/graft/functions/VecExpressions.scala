package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for vector dot products over
  * `array<float>` / `array<double>` columns (either element type on
  * either side — corpus vectors are float, centroid/hyperplane models
  * are double).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is semantically right but evaluates interpreted — per-element lambda
  * dispatch with boxed doubles, outside whole-stage codegen. For ANN
  * scoring the dot product IS the inner loop (corpus × queries × dim
  * multiplies), so this is the textbook case for a custom Expression
  * with `doGenCode`: a primitive double loop over the two ArrayData,
  * inlined into the enclosing codegen stage.
  *
  * The fold order (index 0..n-1, double accumulation) is IDENTICAL to
  * the HOF version and to the DuckDB oracle's list_transform/list_sum
  * — results stay bit-deterministic. Length mismatch folds over the
  * shorter prefix (no null poisoning).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  private def get(x: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => x.getFloat(i).toDouble
    case DoubleType => x.getDouble(i)
    case _ => throw new IllegalStateException("unreachable")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left.dataType).get, elemType(right.dataType).get)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    acc
  }

  private def genGet(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"((double) $arr.getFloat($i))"
    case DoubleType => s"$arr.getDouble($i)"
    case _ => throw new IllegalStateException("unreachable")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val (lt, rt) = (elemType(left.dataType).get, elemType(right.dataType).get)
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${genGet(x, i, lt)} * ${genGet(y, i, rt)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecExpressions {
  /** A model vector as a PRIMITIVE-backed array literal.
    * `typedlit(Seq[Double])` converts through CatalystTypeConverters to
    * a GenericArrayData over boxed Object[] — every `getDouble` in the
    * VecDot loop then unboxes, and an inlined-model scan pays
    * rows × centroids × dim unboxings (the sf10 drill measured ~2 s of
    * a 200K-row assignBuckets in exactly this, r13). UnsafeArrayData
    * from a primitive array reads flat doubles instead. Bitwise the
    * SAME values — only the storage representation changes. */
  def litVec(cv: Seq[Double]): Column =
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(cv.toArray),
        ArrayType(DoubleType, containsNull = false)))

  def vecDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      VecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
