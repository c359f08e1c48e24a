package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Native sign-LSH signature: embedding → array<int> of nBits 0/1 values,
  * bit p = (dot(embedding, plane_p) > 0).
  *
  * The hyperplanes are seeded pseudo-random (driver/executor both derive
  * the identical matrix from (nBits, dims, seed) — no data shipped),
  * cached per-JVM and hoisted into per-operator codegen state (no per-row
  * map lookup). Replaces the interpreted formulation that ran nBits
  * aggregate/zip_with higher-order functions per row; this is one fused
  * pass in generated Java building an UnsafeArrayData directly, the same
  * fix CosineSimilarity/SimHash64/MinHashSig got. Bit-identical to the
  * HOF reference (index-order double accumulation; a NaN dot yields bit 1
  * exactly like Spark SQL's `NaN > 0` ordering) — asserted in
  * SimilaritySpec.
  *
  * An embedding whose length differs from `dims` — or containing a NULL
  * element — yields NULL: silently truncating/zero-padding (or reading a
  * null slot as 0.0, which is what ArrayData.getFloat returns) would let
  * a malformed embedding produce a plausible-but-wrong signature that
  * then lands in LSH buckets as a candidate. This is the same
  * malformed-input contract as CosineSimilarity/Int8Quantize/TopCells.
  * Deliberate divergence from the HOF reference on this edge: the HOF
  * yields a signature with per-bit NULLs (aggregate over a null product),
  * which concat_ws would then silently DROP from band keys, shortening
  * them into accidental collisions — whole-row NULL instead makes the
  * equi-join drop the malformed vector. Bit-identity with the HOF
  * reference (SimilaritySpec) is over well-formed embeddings.
  */
case class HyperplaneSignature(child: Expression, nBits: Int, dims: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null input OR wrong-length input → null output
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig needs array<float|double>, got ${dt.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val planes =
    HyperplaneSignature.planesFlat(nBits, dims, seed)

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneSignature.compute(
      input.asInstanceOf[ArrayData], planes, nBits, dims, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // per-operator plane matrix, resolved once at codegen-object init —
    // the per-row cost is a field read, not a ConcurrentHashMap lookup
    val planesVar = ctx.addMutableState("double[]", "hyperplanes",
      v => s"$v = graft.functions.HyperplaneSignature.planesFlat($nBits, $dims, ${seed}L);")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HyperplaneSignature.compute(
        $c, $planesVar, $nBits, $dims, $elemIsFloat);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {
  /** Deterministic plane matrix, flattened row-major (plane p at
    * [p*dims, (p+1)*dims)). Generation order matches the original
    * driver-side formulation (scala.util.Random(seed), nextDouble-0.5 per
    * coefficient, plane-major), so signatures are unchanged across the
    * HOF → native migration. Cached per (nBits, dims, seed) per JVM.
    */
  private val planeCache = new ConcurrentHashMap[(Int, Int, Long), Array[Double]]()

  def planesFlat(nBits: Int, dims: Int, seed: Long): Array[Double] =
    planeCache.computeIfAbsent((nBits, dims, seed), { key =>
      val (b, d, s) = key
      val rnd = new scala.util.Random(s)
      Array.fill(b * d)(rnd.nextDouble() - 0.5)
    })

  /** Shared kernel for eval and codegen: one pass per plane, index-order
    * double accumulation. NaN dots produce bit 1, matching Spark SQL's
    * `dot > 0` under its NaN-greatest ordering, so the native expression
    * stays bit-identical to the HOF reference even on non-finite input.
    * Returns null when the embedding length doesn't equal `dims` or any
    * element is null (getFloat would silently read a null slot as 0.0).
    */
  def compute(emb: ArrayData, flat: Array[Double], nBits: Int, dims: Int,
              isFloat: Boolean): ArrayData = {
    if (emb.numElements() != dims) return null
    var j = 0
    while (j < dims) {
      if (emb.isNullAt(j)) return null
      j += 1
    }
    val out = new Array[Int](nBits)
    var p = 0
    while (p < nBits) {
      val base = p * dims
      var dot = 0.0
      var i = 0
      while (i < dims) {
        val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        dot += x * flat(base + i)
        i += 1
      }
      out(p) = if (dot > 0.0 || java.lang.Double.isNaN(dot)) 1 else 0
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** No-op kept for perfbench's Tracer; the builder needs no session setup. */
  def register(spark: SparkSession): Unit = ()

  def signature(emb: Column, nBits: Int, dims: Int = 64, seed: Int = 42): Column =
    column(HyperplaneSignature(expression(emb), nBits, dims, seed))
}
