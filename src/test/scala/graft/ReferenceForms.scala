package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Reference forms the specs check the production paths against: the
  * declarative or buffered formulation each native expression or
  * histogram rewrite must stay equal to. No query runs them, so they live
  * with the specs.
  */
object ReferenceForms {

  /** Exact percentiles/median via the buffered `percentile()` aggregate —
    * SPEC-ONLY REFERENCE since round 6: each percentile() call is a
    * TypedImperativeAggregate holding every group value in one aggregation
    * buffer, a genuine scale-killer at 100 TB. The REGISTERED exact path
    * (q85) is AggPack.percentilesViaHistogram, proven hash-identical
    * to this form against the same DuckDB oracle; AggSpec additionally pins
    * the two formulations row-equal directly.
    *
    * Computed over integer-valued quantity and integer cents: the
    * interpolation fractions for p ∈ {¼,½,¾,0.95} over integers are exactly
    * representable doubles, so Spark's percentile() and DuckDB's
    * quantile_cont agree bit-for-bit (raw float percentiles would diverge
    * at half-boundaries like every other derived float).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      // one percentile() call per COLUMN, not per requested quantile: each
      // call is a TypedImperativeAggregate buffering the whole column, so
      // the array form does 2 buffer passes instead of 6 (same math,
      // values read out of the result arrays)
      .agg(
        expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95))").as("qty_ps"),
        expr("percentile(price_cents, array(0.5, 0.95))").as("price_ps"))
      .select(
        element_at(col("qty_ps"), 1).as("qty_p25"),
        element_at(col("qty_ps"), 2).as("qty_p50"),
        element_at(col("qty_ps"), 3).as("qty_p75"),
        element_at(col("qty_ps"), 4).as("qty_p95"),
        element_at(col("price_ps"), 1).as("price_cents_p50"),
        element_at(col("price_ps"), 2).as("price_cents_p95"))

  /** The original HOF formulation — REFERENCE SEMANTICS for the native
    * expression (bit-equivalence asserted in SimilaritySpec); not on any
    * production path.
    */
  def lshSignatureRef(emb: Column, nBits: Int): Column = {
    val rnd = new scala.util.Random(42)
    val p = Seq.fill(nBits)(Seq.fill(64)(rnd.nextDouble() - 0.5))
    array(p.map { plane =>
      (aggregate(
        zip_with(emb, typedlit(plane), (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v) > 0).cast("int")
    }: _*)
  }

  /** The declarative HOF formulation of IVF cell ranking — REFERENCE
    * SEMANTICS for the native TopCells expression (equivalence asserted in
    * SimilaritySpec); not on any production path.
    */
  def cellRankRef(embCol: Column, centroids: Array[Array[Double]]): Column = {
    val nCells = centroids.length
    val centroidLit = typedlit(centroids.map(_.toSeq).toSeq)
    transform(
      array_sort(transform(sequence(lit(0), lit(nCells - 1)),
        c => struct(
          (lit(-1.0) * aggregate(
            zip_with(embCol, element_at(centroidLit, c + 1),
              (x, w) => x.cast("double") * w),
            lit(0.0), (acc, v) => acc + v)).as("negsim"),
          c.as("cell")))),
      s => s.getField("cell"))
  }

  /** The declarative HOF formulation — REFERENCE SEMANTICS for the native
    * Int8Dequantize expression (bit-equivalence asserted in
    * SimilaritySpec); not on any production path.
    */
  def dequantizeRef(codes: Column, lo: Column, hi: Column): Column =
    transform(codes, x => lo + (x.cast("double") * (hi - lo)) / 255.0)

  /** The declarative HOF formulation — REFERENCE SEMANTICS for the native
    * Int8Quantize expression (bit-equivalence asserted in SimilaritySpec);
    * not on any production path.
    */
  def quantizeRef(emb: Column): Column = {
    val lo = array_min(emb).cast("double")
    val hi = array_max(emb).cast("double")
    transform(emb, x =>
      when(hi === lo, 0L).otherwise(
        least(lit(255L), floor((x.cast("double") - lo) / (hi - lo) * 255.0)))
        .cast("int"))
  }

  /** Distinct n-word shingles of a token array: the unit of near-dup
    * comparison. A doc shorter than n yields ONE shingle — the whole doc
    * (the `.otherwise` branch below; every oracle mirrors this with
    * `ELSE [array_to_string(w, ' ')]`), so short docs still participate
    * in jaccard with a nonzero denominator rather than vanishing.
    * This is the REFERENCE SEMANTICS for the native NGramShingles
    * expression (equivalence asserted in DedupSpec); production paths use
    * the native form.
    */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Cosine similarity of two float-array embeddings, computed in double
    * with sequential accumulation (index order) — the exact op sequence
    * DuckDB's list_cosine_similarity uses, for oracle parity. This HOF
    * composition is the REFERENCE SEMANTICS for the native
    * CosineSimilarity expression (bit-equivalence asserted in
    * SimilaritySpec); not on any production path.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    dot / sqrt(na * nb)
  }

  /** Driver-side solve of the 3-feature (intercept, x1, x2) normal
    * equations from a q138 statistics row: Gaussian elimination with
    * partial pivoting on the 3×3 system — returns (b0, b1, b2). The
    * registered q138 query returns only the exact statistics; TextSpec
    * solves them with this.
    */
  def solveNormalEquations(n: Long, sX1: Long, sX2: Long, sX1X1: Long,
                           sX1X2: Long, sX2X2: Long, sY: Long, sX1Y: Long,
                           sX2Y: Long): (Double, Double, Double) = {
    val a = Array(
      Array(n.toDouble, sX1.toDouble, sX2.toDouble, sY.toDouble),
      Array(sX1.toDouble, sX1X1.toDouble, sX1X2.toDouble, sX1Y.toDouble),
      Array(sX2.toDouble, sX1X2.toDouble, sX2X2.toDouble, sX2Y.toDouble))
    var col0 = 0
    while (col0 < 3) {
      val piv = (col0 until 3).maxBy(r => math.abs(a(r)(col0)))
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      require(math.abs(a(col0)(col0)) > 1e-12,
        "singular normal equations (degenerate features)")
      var r = 0
      while (r < 3) {
        if (r != col0) {
          val f = a(r)(col0) / a(col0)(col0)
          var c = col0
          while (c < 4) { a(r)(c) -= f * a(col0)(c); c += 1 }
        }
        r += 1
      }
      col0 += 1
    }
    (a(0)(3) / a(0)(0), a(1)(3) / a(1)(1), a(2)(3) / a(2)(2))
  }
}
