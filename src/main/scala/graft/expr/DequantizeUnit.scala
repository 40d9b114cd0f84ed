package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `dequantize_unit(codes, mins, scales)`: an int8 code vector back to
  * a unit vector — d_i = codes_i · scales_i + mins_i, then d / ‖d‖.
  *
  * Bit-identical to the lambda form
  * `transform(codes, (x, i) -> x * scales[i] + mins[i])`, then
  * `transform(d, x -> x / sqrt(dot_product(d, d)))`: the same double
  * operations in the same order, with the norm accumulated left to right
  * like [[DotProduct]]. The lambdas are CodegenFallback, which keeps a
  * projection out of whole-stage codegen, and the second re-sums the
  * norm once per element.
  *
  * A null element stays null and adds nothing to the norm, as in the
  * lambda form. `mins` and `scales` must hold at least |codes| elements.
  * A null `codes` array yields null, and so does a zero vector with a
  * non-null element, where the lambda form raises DIVIDE_BY_ZERO.
  */
case class DequantizeUnit(codes: Expression, mins: Expression, scales: Expression)
    extends TernaryExpression {

  override def first: Expression = codes
  override def second: Expression = mins
  override def third: Expression = scales

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (codes.dataType, mins.dataType, scales.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dequantize_unit expects (ARRAY<INT>, ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
        s"(${codes.dataType.sql}, ${mins.dataType.sql}, ${scales.dataType.sql})")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "dequantize_unit"

  override protected def nullSafeEval(c: Any, m: Any, s: Any): Any =
    DequantizeUnitUtil.eval(c.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData],
      s.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, m, s) =>
      s"""
         |${ev.value} = graft.expr.DequantizeUnitUtil.eval($c, $m, $s);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): DequantizeUnit =
    copy(codes = newFirst, mins = newSecond, scales = newThird)
}

/** The kernel body, a top-level object so generated code can call it
  * statically. */
object DequantizeUnitUtil {
  def eval(c: ArrayData, m: ArrayData, s: ArrayData): ArrayData = {
    val n = c.numElements()
    val d = new Array[Double](n)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!c.isNullAt(i)) {
        d(i) = c.getInt(i).toDouble * s.getDouble(i) + m.getDouble(i)
        sum += d(i) * d(i)
      }
      i += 1
    }
    val norm = math.sqrt(sum)
    val out = new Array[Any](n)
    var nonNull = false
    i = 0
    while (i < n) {
      if (!c.isNullAt(i)) { out(i) = d(i) / norm; nonNull = true }
      i += 1
    }
    if (nonNull && norm == 0.0) null else new GenericArrayData(out)
  }
}
