package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native per-vector min-max int8 quantization: array<float|double> →
  * array<int> of [0,255] codes, q_i = floor((x_i − min) / (max − min) ·
  * 255) (floor, never round — no cross-engine round-half ties), with a
  * degenerate constant vector mapping to all-zero codes.
  *
  * One fused generated-Java pass per row (min, max, and the affine map in
  * a single loop over the array) versus the declarative
  * array_min/array_max/transform chain, which runs three interpreted
  * CodegenFallback walks per row in Spark 4 — the same migration
  * CosineSimilarity/SimHash64/NGramShingles/MinHashSig/HyperplaneSignature
  * got. Bit-identical to the declarative form on FINITE inputs (identical
  * IEEE op sequence, elements widened to double first) — asserted in
  * SimilaritySpec.
  *
  * A vector containing NaN or null elements yields NULL: quantizing a
  * malformed embedding to plausible codes would let it pass unnoticed
  * (the HyperplaneSignature wrong-dims contract), and the declarative
  * engines genuinely disagree with each other on those inputs (Spark's
  * NaN-greatest ordering vs DuckDB's NULL handling in least()), so no
  * bit-identical definition exists to match.
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null input OR NaN/null-element input → null output
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"int8_quantize needs array<float|double>, got ${dt.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    Int8Quantize.compute(input.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Int8Quantize.compute($c, $elemIsFloat);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Quantize {
  /** Shared kernel for eval and codegen. Returns null when any element is
    * null or NaN (malformed embedding — see class doc).
    */
  def compute(emb: ArrayData, isFloat: Boolean): ArrayData = {
    val n = emb.numElements()
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      if (java.lang.Double.isNaN(x)) return null
      if (x < lo) lo = x
      if (x > hi) hi = x
      i += 1
    }
    val out = new Array[Int](n)
    if (hi > lo) {
      val range = hi - lo
      i = 0
      while (i < n) {
        val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        // identical op sequence to the declarative form:
        // floor((x - lo) / range * 255), clamped to 255
        val q = math.floor((x - lo) / range * 255.0)
        out(i) = if (q > 255.0) 255 else q.toInt
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** No-op kept for perfbench's Tracer; the builder needs no session setup. */
  def register(spark: SparkSession): Unit = ()

  def quantize(emb: Column): Column = column(Int8Quantize(expression(emb)))
}
