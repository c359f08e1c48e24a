package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native int8 dequantization — the serve-side inverse of [[Int8Quantize]]:
  * `(codes array<int>, lo double, hi double) → array<double>` with
  * `x'_i = lo + (q_i · (hi − lo)) / 255`. This is the reconstruction a
  * vector store runs on its archived codes (q74's storage form) before
  * scoring, so it sits in the corpus hot path of the quantized ANN query
  * (q128) — one fused generated-Java pass per row instead of an
  * interpreted per-element lambda (`transform`, CodegenFallback in
  * Spark 4). Identical IEEE op sequence to the declarative form and the
  * DuckDB oracle: multiply by the range FIRST, then divide by 255 —
  * bit-equivalence to the HOF reference twin asserted in SimilaritySpec.
  *
  * Null codes array, null bounds, or a null element → NULL (a partially
  * archived vector must not reconstruct to something plausible).
  */
case class Int8Dequantize(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(IntegerType, _), DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"int8_dequantize needs (array<int>, double, double), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }

  override protected def nullSafeEval(codes: Any, lo: Any, hi: Any): Any =
    Int8Dequantize.compute(codes.asInstanceOf[ArrayData],
      lo.asInstanceOf[Double], hi.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, lo, hi) => s"""
      ${ev.value} = graft.functions.Int8Dequantize.compute($q, $lo, $hi);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Int8Dequantize {
  /** Shared kernel for eval and codegen. Null element → null result. */
  def compute(codes: ArrayData, lo: Double, hi: Double): ArrayData = {
    val n = codes.numElements()
    val range = hi - lo
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i)) return null
      // identical op sequence to the declarative form and the oracle:
      // lo + (q * range) / 255
      out(i) = lo + (codes.getInt(i).toDouble * range) / 255.0
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def dequantize(codes: Column, lo: Column, hi: Column): Column =
    column(Int8Dequantize(expression(codes), expression(lo), expression(hi)))
}
