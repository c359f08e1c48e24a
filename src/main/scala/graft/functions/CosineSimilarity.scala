package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine similarity over two float/double array columns.
  *
  * The composed higher-order-function form (ReferenceForms.cosine) walks
  * each array six times through three aggregate() expressions; this
  * expression does one fused pass with primitive accumulators and generates
  * a tight Java loop (doGenCode), keeping the hot path of brute-force
  * similarity scans inside whole-stage codegen. Accumulation is index-order
  * double adds — bit-identical to the HOF form and to DuckDB's
  * list_cosine_similarity on DOUBLE[] (oracle parity preserved).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null (not a garbage number) for malformed inputs: mismatched lengths,
  // null elements, and zero-norm vectors — DuckDB's list_cosine_similarity
  // errors on the former; silently truncating or zero-filling would let a
  // bad embedding pass unnoticed
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs float/double arrays, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      // null element → null output: getDouble on a null slot reads 0.0,
      // which would score a malformed embedding plausibly instead of
      // flagging it — the HOF twin (zip_with/aggregate) null-propagates,
      // and TopCells/Int8Quantize enforce the same contract
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $a.$lGet($i);
         |    double $yv = (double) $b.$rGet($i);
         |    $dot += $xv * $yv;
         |    $nx += $xv * $xv;
         |    $ny += $yv * $yv;
         |  }
         |  if (${ev.isNull}) {
         |    // null element: result already marked null
         |  } else if ($nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($nx * $ny);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** No-op kept for perfbench's Tracer; the builder needs no session setup. */
  def register(spark: SparkSession): Unit = ()

  def cosineFast(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
