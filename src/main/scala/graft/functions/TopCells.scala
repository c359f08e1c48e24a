package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native IVF cell ranking: embedding → array<int> of the `nProbe`
  * centroid ids with the highest dot product, descending (ties broken by
  * lower cell id — the exact order of the declarative
  * array_sort(struct(-dot, cell)) reference formulation, which ran k
  * interpreted aggregate/zip_with walks per row as CodegenFallback in
  * Spark 4). One fused generated-Java pass per row; the k·dims centroid
  * matrix rides the generated class as a reference object, never per-row
  * state. Equivalence with the HOF reference is asserted in
  * SimilaritySpec.
  *
  * An embedding whose length differs from the centroid dimensionality —
  * or that contains a NULL element — yields NULL (the HyperplaneSignature
  * wrong-dims contract; a null element has no defensible ranking, and
  * silently reading it as 0.0 would diverge from the null-propagating HOF
  * reference); a NaN dot ranks last, matching the reference sort where a
  * NaN sort key is greatest (negated similarity → last).
  */
case class TopCells(child: Expression, centroidsFlat: Seq[Double], dims: Int, nProbe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null input OR wrong-length input → null output
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"top_cells needs array<float|double>, got ${dt.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val flat = centroidsFlat.toArray

  override protected def nullSafeEval(input: Any): Any =
    TopCells.compute(input.asInstanceOf[ArrayData], flat, dims, nProbe, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatVar = ctx.addReferenceObj("topCellsCentroids", flat, "double[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TopCells.compute(
        $c, $flatVar, $dims, $nProbe, $elemIsFloat);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopCells {
  /** Shared kernel for eval and codegen: k index-order dot products, then
    * an O(nProbe·k) selection (strict `>` keeps the lower cell id on
    * ties). NaN dots are demoted to −∞ so they rank last deterministically.
    */
  def compute(emb: ArrayData, flat: Array[Double], dims: Int, nProbe: Int,
              isFloat: Boolean): ArrayData = {
    if (emb.numElements() != dims) return null
    var j = 0
    while (j < dims) { // null element → null output (see class doc)
      if (emb.isNullAt(j)) return null
      j += 1
    }
    val k = flat.length / dims
    val n = math.min(nProbe, k)
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val base = c * dims
      var dot = 0.0
      var i = 0
      while (i < dims) {
        val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        dot += x * flat(base + i)
        i += 1
      }
      dots(c) = if (java.lang.Double.isNaN(dot)) Double.NegativeInfinity else dot
      c += 1
    }
    val out = new Array[Int](n)
    val used = new Array[Boolean](k)
    var s = 0
    while (s < n) {
      var best = -1
      var bd = Double.NegativeInfinity
      c = 0
      while (c < k) {
        if (!used(c) && (best == -1 || dots(c) > bd)) { best = c; bd = dots(c) }
        c += 1
      }
      out(s) = best
      used(best) = true
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `centroids` is the k×dims matrix, one row per cell. An empty matrix,
    * empty or ragged rows and a non-positive `nProbe` fail here, when the
    * column is built, not inside an executor task.
    */
  def topCells(emb: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    require(centroids.nonEmpty, "topCells: centroids must be non-empty")
    val dims = centroids.head.length
    require(dims > 0, "topCells: centroids must have non-empty rows")
    centroids.zipWithIndex.foreach { case (row, r) =>
      require(row.length == dims,
        s"topCells: centroids must have equal-length rows (row $r has ${row.length}, expected $dims)")
    }
    require(nProbe > 0, s"topCells: nProbe must be positive, got $nProbe")
    column(TopCells(expression(emb), centroids.flatten, dims, nProbe))
  }
}
