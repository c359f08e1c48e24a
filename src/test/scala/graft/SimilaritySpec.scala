package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityPack

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = SparkTestSession.sfDir

  test("ANN LSH top-k: reported neighbors are true cosines; recall@5 >= 0.5") {
    val brute = SimilarityPack.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annRows = SimilarityPack.annTopK(spark, dir).collect()
    val ann = annRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16-bit/2-band LSH on near-orthogonal synthetic vectors is a coarse
    // filter; the guarantee asserted is non-trivial overlap + exact re-rank.
    val recall = (ann intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
    // per query at most k results, ranked 1..k without gaps
    annRows.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length.toLong))
    }
  }

  test("IVF top-k: per-query ranks are contiguous; recall@5 >= 0.3") {
    val brute = SimilarityPack.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRows = SimilarityPack.ivfTopK(spark, dir).collect()
    val ivf = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-orthogonal synthetic vectors barely cluster, so IVF's coarse
    // cells retain limited recall here; the mechanism (cell assignment,
    // nProbe probing, exact re-rank) is what's under test
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    ivfRows.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length.toLong))
    }
  }

  test("native TopCells == HOF cell ranking, identical order incl. ties") {
    graft.functions.TopCells.register(spark)
    val (centroids, _) = SimilarityPack.kmeansTrain(spark, dir, k = 8, iters = 1)
    val cents = centroids.map(_.toSeq).toSeq
    val emb = Tables.t(spark, dir, "embeddings")
    Seq(1, 4, 8).foreach { n =>
      val diff = emb.select(
          graft.functions.TopCells.topCells(col("embedding"), cents, n).as("native"),
          org.apache.spark.sql.functions.slice(
            ReferenceForms.cellRankRef(col("embedding"), centroids), 1, n).as("ref"))
        .filter(col("native") =!= col("ref")).count()
      assert(diff == 0, s"nProbe=$n: native TopCells diverged from the HOF reference")
    }
  }

  test("TopCells edge contracts: null/wrong-dims/null-element yield NULL; bad args fail fast") {
    import spark.implicits._
    graft.functions.TopCells.register(spark)
    val cents = Seq(Seq.fill(4)(0.5), Seq.fill(4)(-0.5))
    val nullable = Seq(
      (1L, Array(1f, 2f, 3f, 4f).map(Option(_))),     // clean
      (2L, Array(Option(1f), None, Option(3f), Option(4f))), // null element
      (3L, Array(1f, 2f).map(Option(_))),             // wrong dims
      (4L, null.asInstanceOf[Array[Option[Float]]]))  // null array
      .toDF("id", "emb")
      .select(col("id"),
        graft.functions.TopCells.topCells(col("emb"), cents, 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!nullable(1L), "clean input must rank")
    assert(nullable(2L) && nullable(3L) && nullable(4L),
      "null-element / wrong-dims / null inputs must produce NULL rankings")
    // malformed registrations fail at analysis with clear messages,
    // not inside an executor task
    Seq((1L, Array(1f, 2f, 3f, 4f))).toDF("id", "emb")
      .createOrReplaceTempView("tc_arg_check")
    Seq(
      "graft_top_cells(emb, array(array()), 1)",       // zero-dim centroids
      "graft_top_cells(emb, array(array(0.5D)))",      // missing nProbe
      s"graft_top_cells(emb, ${cents.map(c => s"array(${c.mkString(",")})")
        .mkString("array(", ",", ")")}, 0)")           // non-positive nProbe
      .foreach { call =>
        val e = intercept[Exception] {
          spark.sql(s"SELECT $call FROM tc_arg_check").collect()
        }
        assert(e.getMessage.contains("graft_top_cells"), s"$call → ${e.getMessage}")
      }
  }

  test("trained IVF (q106): k-means centroids compose with the IVF search; recall@5 >= 0.3") {
    val brute = SimilarityPack.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SimilarityPack.ivfTrainedTopK(spark, dir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length.toLong))
    }
  }

  test("spherical k-means: mean cosine is Lloyd-monotone, centroids unit, runs deterministic") {
    val (centroids, costs) = SimilarityPack.kmeansTrain(spark, dir, k = 8, iters = 3)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    centroids.foreach(c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9, "centroids must be unit"))
    assert(costs.size == 3)
    costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"mean cosine must be non-decreasing across Lloyd rounds: $costs")
    }
    // training moved the quantizer: final fit strictly beats the raw seeds
    assert(costs.last > costs.head, s"training must improve the objective: $costs")
    // determinism up to float merge order (partial-agg arrival order varies)
    val (c2, costs2) = SimilarityPack.kmeansTrain(spark, dir, k = 8, iters = 3)
    costs.zip(costs2).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    centroids.zip(c2).foreach { case (u, v) =>
      u.zip(v).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("native HyperplaneSignature == HOF reference signature, bit-identical") {
    import org.apache.spark.sql.functions._
    graft.functions.HyperplaneSignature.register(spark)
    val e = Tables.t(spark, dir, "embeddings")
    val diff = e.select(
        SimilarityPack.lshSignature(col("embedding"), 32).as("native"),
        ReferenceForms.lshSignatureRef(col("embedding"), 32).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0, s"$diff rows differ between native and HOF signatures")
  }

  test("hyperplane signature: wrong-dims embedding yields NULL, not a truncated signature") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.HyperplaneSignature.register(spark)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(FloatType, containsNull = true))))
    val data = java.util.Arrays.asList(
      Row(1L, Seq.fill(64)(0.5f)),            // correct dims
      Row(2L, Seq.fill(10)(0.5f)),            // too short — would zero-pad
      Row(3L, Seq.fill(100)(0.5f)),           // too long — would truncate
      Row(4L, null),                          // null propagates
      // null ELEMENT: getFloat would read the slot as 0.0 and emit a
      // plausible signature that then lands in LSH buckets; the contract
      // (same as CosineSimilarity/Int8Quantize/TopCells) is whole-NULL
      Row(5L, 0.5f +: null.asInstanceOf[java.lang.Float] +: Seq.fill(62)(0.5f)))
    val rows = spark.createDataFrame(data, schema)
      .select(col("id"), graft.functions.HyperplaneSignature
        .signature(col("emb"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L))
    assert(rows(2L) && rows(3L) && rows(4L) && rows(5L),
      "length-mismatched, null, or null-element embeddings must produce NULL signatures")
  }

  test("graft_* SQL registration: bigint literals widen; non-literals fail clearly") {
    import spark.implicits._
    graft.functions.HyperplaneSignature.register(spark)
    graft.functions.MinHashSig.register(spark)
    Seq((1L, Array.fill(64)(0.25f))).toDF("id", "emb")
      .createOrReplaceTempView("hp_arg_check")
    // bigint literal (8L) used to throw ClassCastException at analysis;
    // foldable constant expressions (4+4, CAST) resolve before
    // ConstantFolding runs, so the builder folds them itself
    Seq("8L", "4 + 4", "CAST(8 AS BIGINT)").foreach { arg =>
      val viaSql = spark.sql(
        s"SELECT graft_hyperplane_sig(emb, $arg, 64, 42) AS sig FROM hp_arg_check")
        .collect().head.getSeq[Int](0)
      assert(viaSql.length == 8, s"arg form '$arg'")
    }
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'), id) FROM hp_arg_check").collect()
    }
    assert(err.getMessage.contains("must be an integer literal"),
      s"unexpected failure mode: ${err.getMessage}")
  }

  test("native Int8Dequantize == declarative HOF reconstruction, bit-identical") {
    import org.apache.spark.sql.functions._
    graft.functions.Int8Quantize.register(spark)
    graft.functions.Int8Dequantize.register(spark)
    val e = col("embedding")
    val coded = Tables.t(spark, dir, "embeddings")
      .select(array_min(e).cast("double").as("lo"),
        array_max(e).cast("double").as("hi"),
        graft.functions.Int8Quantize.quantize(e).as("q"))
    val diff = coded.select(
        graft.functions.Int8Dequantize.dequantize(col("q"), col("lo"), col("hi"))
          .as("native"),
        ReferenceForms.dequantizeRef(col("q"), col("lo"), col("hi")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0, s"$diff rows differ between native and HOF dequantization")
  }

  test("native Int8Quantize == declarative HOF quantization, bit-identical") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.Int8Quantize.register(spark)
    val e = Tables.t(spark, dir, "embeddings")
    val diff = e.select(
        graft.functions.Int8Quantize.quantize(col("embedding")).as("native"),
        ReferenceForms.quantizeRef(col("embedding")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0, s"$diff rows differ between native and HOF quantization")
    // degenerate constant vector -> all-zero codes, full range -> 0 and 255
    val edge = Seq(
      (1L, Array(2.5f, 2.5f, 2.5f)),
      (2L, Array(0.0f, 0.5f, 1.0f)))
      .toDF("id", "emb")
      .select(col("id"), graft.functions.Int8Quantize.quantize(col("emb")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(edge(1L) == Seq(0, 0, 0))
    assert(edge(2L) == Seq(0, 127, 255))
    // malformed embeddings (NaN element, null element, null array) -> NULL,
    // never plausible-but-wrong codes; the engines genuinely disagree on
    // these inputs so no bit-identical definition exists to match
    val bad = Seq(
      (3L, Array(1.0f, Float.NaN)),
      (4L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "emb")
      .select(col("id"), graft.functions.Int8Quantize.quantize(col("emb")).as("q"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(bad(3L) && bad(4L), s"malformed embeddings must quantize to NULL: $bad")
  }

  test("CosineSimilarity edge contracts: null element / zero-norm / mismatch yield NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    graft.functions.CosineSimilarity.register(spark)
    val rows = Seq(
      (1L, Array(1f, 2f).map(Option(_)), Array(3f, 4f).map(Option(_))),   // clean
      (2L, Array(Option(1f), None), Array(3f, 4f).map(Option(_))),        // null elem left
      (3L, Array(1f, 2f).map(Option(_)), Array(Option(3f), None)),        // null elem right
      (4L, Array(0f, 0f).map(Option(_)), Array(3f, 4f).map(Option(_))),   // zero norm
      (5L, Array(1f, 2f, 3f).map(Option(_)), Array(3f, 4f).map(Option(_)))) // mismatch
      .toDF("id", "a", "b")
    // codegen path (projection over the frame) — a null slot must NOT be
    // silently read as 0.0 and score a malformed embedding plausibly
    val nulls = rows
      .select(c("id"), graft.functions.CosineSimilarity.cosineFast(c("a"), c("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!nulls(1L), "clean input must score")
    Seq(2L, 3L, 4L, 5L).foreach(id =>
      assert(nulls(id), s"row $id (malformed) must yield NULL"))
    // interpreted path (direct eval) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val at = ArrayType(DoubleType, containsNull = true)
    def arr(xs: Any*) = Literal.create(new GenericArrayData(xs.toArray), at)
    val fn = graft.functions.CosineSimilarity.apply _
    assert(fn(arr(1.0, null), arr(3.0, 4.0)).eval(null) == null, "null element")
    assert(fn(arr(0.0, 0.0), arr(3.0, 4.0)).eval(null) == null, "zero norm")
    assert(fn(arr(1.0), arr(3.0, 4.0)).eval(null) == null, "length mismatch")
    assert(fn(arr(3.0, 4.0), arr(3.0, 4.0)).eval(null) == 1.0, "clean")
    // wrong arity fails with the function name, not IndexOutOfBounds
    rows.createOrReplaceTempView("cos_arg_check")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_cosine(a) FROM cos_arg_check").collect()
    }
    assert(e.getMessage.contains("graft_cosine"), e.getMessage)
  }

  test("k-means training survives zero-norm and malformed embeddings") {
    import spark.implicits._
    // a tiny embeddings table with a zero-norm vector (cosine to its
    // centroid is undefined -> objective term 0, still in the mean's
    // denominator) and a null-element vector (dropped by the TopCells
    // null gate) — previously both crashed the non-nullable typed decode
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmeans_edge").toString
    val dim = 8
    val clean = (1L to 20L).map(i =>
      (i, Array.tabulate(dim)(d => Option(((i + d) % 5 + 1).toFloat))))
    val edge = Seq(
      (97L, Array.fill(dim)(Option(0f))),                       // zero norm
      (98L, Array.tabulate(dim)(d => if (d == 3) None else Option(1f))))
    (clean ++ edge).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val (centroids, costs) = SimilarityPack.kmeansTrain(spark, tmp, k = 2, iters = 2)
    assert(centroids.length == 2 && centroids.forall(_.length == dim))
    centroids.foreach(cn =>
      assert(math.abs(math.sqrt(cn.map(x => x * x).sum) - 1.0) < 1e-9))
    assert(costs.size == 2 && costs.forall(v => !v.isNaN))
  }

  test("native CosineSimilarity expression == HOF cosine, bit-identical") {
    import org.apache.spark.sql.functions._
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables.t(spark, dir, "embeddings").limit(50)
    val both = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.cosine(col("a.embedding"), col("b.embedding")).as("hof"),
        graft.functions.CosineSimilarity
          .cosineFast(col("a.embedding"), col("b.embedding")).as("fast"))
    val diff = both.filter(col("hof") =!= col("fast")).count()
    assert(diff == 0, s"$diff pairs differ between HOF and native cosine")
  }

  test("distributed PCA: eigen-structure invariants and projected variance") {
    import graft.operators.SimilarityPack
    import org.apache.spark.sql.functions._
    val (mean, comps, eigvals) = SimilarityPack.pcaTrain(spark, dir, p = 2)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // components unit-norm and mutually orthogonal; eigvals ordered ≥ 0
    comps.foreach(c => assert(math.abs(dot(c, c) - 1.0) < 1e-9))
    assert(math.abs(dot(comps(0), comps(1))) < 1e-6)
    assert(eigvals(0) >= eigvals(1) && eigvals(1) >= 0)
    // the variance of the corpus projected on PC1 IS the top eigenvalue
    val proj = SimilarityPack.pcaProject(
      Tables.t(spark, dir, "embeddings"), col("embedding"), mean, comps)
    val v1 = proj.agg(var_pop(col("pc1"))).head().getDouble(0)
    assert(math.abs(v1 - eigvals(0)) < 1e-6 * math.max(1.0, eigvals(0)),
      s"var(pc1)=$v1 vs lambda1=${eigvals(0)}")
    // PC1 captures at least as much variance as any raw coordinate
    val dims = mean.indices.map(i =>
      proj.agg(var_pop(element_at(col("embedding"), i + 1).cast("double")))
        .head().getDouble(0)).max
    assert(eigvals(0) >= dims - 1e-9)
    // determinism: retraining gives the identical model
    val (mean2, comps2, _) = SimilarityPack.pcaTrain(spark, dir, p = 2)
    assert(mean.toSeq == mean2.toSeq && comps.map(_.toSeq).toSeq == comps2.map(_.toSeq).toSeq)
  }

  test("trained quantizer survives a KeyedStore save/load round-trip bit-exactly") {
    import graft.operators.SimilarityPack
    val (centroids, _) = SimilarityPack.kmeansModel(spark, dir, k = 4, iters = 1)
    val loc = java.nio.file.Files.createTempDirectory("kmeans_model").toString
    spark.sql("DROP TABLE IF EXISTS kmeans_model_rt")
    try {
      SimilarityPack.kmeansSave(spark, "kmeans_model_rt", loc, centroids)
      val loaded = SimilarityPack.kmeansLoad(spark, "kmeans_model_rt")
      // Double.toString shortest-repr roundtrips exactly, so the served
      // model is BIT-IDENTICAL to the trained one — search results from a
      // loaded model cannot diverge from the training session's
      assert(loaded.length == centroids.length)
      loaded.zip(centroids).foreach { case (l, c) => assert(l.toSeq == c.toSeq) }
    } finally spark.sql("DROP TABLE IF EXISTS kmeans_model_rt")
  }

  test("q128 quantized-corpus top-k closely tracks the full-precision q70 ranking") {
    import graft.operators.SimilarityPack
    // int8 reconstruction shifts each cosine by O((hi-lo)/255) — on the
    // near-orthogonal fixture (tightly clustered cosines, the adversarial
    // case for ranking stability) the top-5 sets must still mostly agree
    val exact = SimilarityPack.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityPack.annQuantizedTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.7, s"top-5 agreement=$overlap (${(exact & quant).size}/${exact.size})")
  }

  test("persist round-trip compacts its store past the generation budget") {
    import graft.operators.SimilarityPack
    import org.apache.spark.sql.functions._
    val loc = java.nio.file.Files.createTempDirectory("kmeans_persist_c").toString
    spark.sql("DROP TABLE IF EXISTS kmeans_persist_c")
    try {
      // 6 saves against a compact-after-4 budget: every round-trip must
      // stay all-matches_trained, and the LIVE generation count must stay
      // within the budget — the trigger counts generations present (not
      // the monotonic version counter), so the steady state oscillates in
      // [3, 4]: saves 1-4 accumulate, save 5 trips >4 and compacts to the
      // newest 3, save 6 appends a 4th
      (1 to 6).foreach { _ =>
        val out = SimilarityPack.kmeansPersistRoundtrip(spark, dir,
          nCells = 2, iters = 1, table = "kmeans_persist_c",
          location = loc, compactAfter = 4)
        assert(out.filter(!col("matches_trained")).count() == 0)
      }
      val versions = spark.table("kmeans_persist_c")
        .select(col("version")).distinct().count()
      assert(versions <= 4,
        s"store holds $versions generations — compaction never fired or the budget leaked")
    } finally spark.sql("DROP TABLE IF EXISTS kmeans_persist_c")
  }

  test("re-saving a retrained model deterministically wins load resolution") {
    // the append-only store keeps both saves; a tied version would resolve
    // to a nondeterministic per-cell MIX of old and new centroids —
    // kmeansSave must derive a strictly newer version per save
    import graft.operators.SimilarityPack
    val (m1, _) = SimilarityPack.kmeansModel(spark, dir, k = 4, iters = 1)
    val m2 = m1.map(_.map(_ + 1.0)) // a visibly different "retrained" model
    val loc = java.nio.file.Files.createTempDirectory("kmeans_model_v").toString
    spark.sql("DROP TABLE IF EXISTS kmeans_model_v")
    try {
      SimilarityPack.kmeansSave(spark, "kmeans_model_v", loc, m1)
      SimilarityPack.kmeansSave(spark, "kmeans_model_v", loc, m2)
      val loaded = SimilarityPack.kmeansLoad(spark, "kmeans_model_v")
      loaded.zip(m2).foreach { case (l, c) => assert(l.toSeq == c.toSeq,
        "load must serve the NEWEST save in full, never a mix") }
      // and the store still holds both generations (append-only history)
      val versions = graft.sources.KeyedStore
        .scan(spark, "kmeans_model_v", maxVersions = Int.MaxValue)
        .select(org.apache.spark.sql.functions.col("version"))
        .distinct().collect().map(_.getLong(0)).sorted
      assert(versions.length == 2 && versions(0) < versions(1))
    } finally spark.sql("DROP TABLE IF EXISTS kmeans_model_v")
  }

  test("cosine column matches a driver-side computation on a sample") {
    import org.apache.spark.sql.functions._
    val rows = Tables.t(spark, dir, "embeddings").filter(col("vec_id") < 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val Array((_, a), (_, b)) = rows.sortBy(_._1)
    def cosLocal(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
      }
      dot / math.sqrt(nx * ny)
    }
    import spark.implicits._
    val got = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - cosLocal(a, b)) < 1e-12)
  }
}
