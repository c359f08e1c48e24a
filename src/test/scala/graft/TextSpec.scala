package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MultimodalPack, TextPack}

class TextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = SparkTestSession.sfDir

  test("doc chunking: strided windows cover every token, fingerprints match slices") {
    import spark.implicits._
    // 70 tokens → starts 1, 33, 65 with window 64 / stride 32:
    // chunk sizes 64, 38, 6; every token appears in ≥1 chunk
    val words = (1 to 70).map(i => s"w$i")
    val tmp = java.nio.file.Files.createTempDirectory("chunks").toString
    Seq((1L, words.mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val got = TextPack.docChunks(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    def md5Local(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = Seq(
      (1L, 1, 64L, md5Local(words.slice(0, 64).mkString(" "))),
      (1L, 33, 38L, md5Local(words.slice(32, 70).mkString(" "))),
      (1L, 65, 6L, md5Local(words.slice(64, 70).mkString(" "))),
      (2L, 1, 1L, md5Local("solo")))
    assert(got.toSeq == expect)
  }

  test("langId: crafted multilingual fixtures classify correctly") {
    import spark.implicits._
    val fixtures = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("el perro de la casa que corre por los campos", "es"),
      ("le chat est dans la maison pour les vacances", "fr"),
      ("der hund ist nicht in das haus und die katze", "de"),
      ("这 是 一个 中文 句子 测试", "zh"),
      ("это русское предложение для теста", "ru"),
      ("xyzzy plugh qwerty asdf", "und"))
      .toDF("text", "expected")
    val got = fixtures.select(col("expected"),
      TextPack.langId(col("text")).as("pred")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)}, predicted ${r.getString(1)}"))
  }

  test("langId is deterministic across runs") {
    val a = TextPack.langIdRollup(spark, dir).collect().toSeq
    val b = TextPack.langIdRollup(spark, dir).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("scrubPii: redacts email/IP/phone variants, leaves clean text, over-redaction pinned") {
    import spark.implicits._
    val rows = Seq(
      ("a", "mail bob.smith+x@sub.example.org end"), // dots/plus local, subdomain
      ("b", "ip 192.168.0.1 and 8.8.8.8"),           // two dotted quads
      ("c", "call 555-0199 or 867.5309"),            // dash and dot phone forms
      ("d", "clean text with no pii at all"),
      ("e", "version 1.2.3.4 over-redacts"),         // documented naive-IPv4 tradeoff
      ("f", "edge a@b.co 1.2.3.4 111-2222"))         // all three in one doc
      .toDF("id", "t")
      .select(col("id"), TextPack.scrubPii(col("t")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("a") == "mail [EMAIL] end")
    assert(rows("b") == "ip [IP] and [IP]")
    assert(rows("c") == "call [PHONE] or [PHONE]")
    assert(rows("d") == "clean text with no pii at all")
    assert(rows("e") == "version [IP] over-redacts")
    assert(rows("f") == "edge [EMAIL] [IP] [PHONE]")
  }

  test("q110: every doc is seeded with exactly one email/ip/phone; residual is zero") {
    val byrow = TextPack.piiScrub(spark, dir).collect()
    assert(byrow.nonEmpty)
    byrow.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) == n && r.getLong(3) == n && r.getLong(4) == n,
        s"source ${r.getString(0)}: expected $n of each PII kind, got $r")
      assert(r.getLong(5) == 0, s"residual matches after scrub: $r")
      assert(r.getLong(6) > 0, "redaction must shrink the text")
    }
  }

  test("train/val/test split: deterministic, exhaustive, proportions near 80/10/10") {
    val a = TextPack.trainValTestSplit(spark, dir).collect()
    val b = TextPack.trainValTestSplit(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "split must be rerun-identical")
    val bySplit = a.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), bySplit.toString)
    val n = bySplit.values.sum.toDouble
    assert(bySplit("train") / n > 0.72 && bySplit("train") / n < 0.88, bySplit.toString)
    assert(bySplit("val") / n > 0.04 && bySplit("val") / n < 0.16, bySplit.toString)
    assert(bySplit("test") / n > 0.04 && bySplit("test") / n < 0.16, bySplit.toString)
  }

  test("q76 oracle precondition: fixture text is pure ASCII at every test SF") {
    // the q76 DuckDB oracle iterates CODEPOINTS (ord per char) while the
    // Spark side sums UTF-8 BYTES — they agree iff every char is single-byte
    // ASCII. This pins that invariant for each testdata dir so a future
    // non-ASCII fixture fails HERE with a clear message, not as an opaque
    // oracle hash mismatch.
    import org.apache.spark.sql.functions.{length => strlen, octet_length}
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d, "documents.parquet").exists()).foreach { d =>
        val nonAscii = Tables.t(spark, d, "documents")
          .filter(strlen(col("text")) =!= octet_length(col("text"))).count()
        assert(nonAscii == 0,
          s"$d has $nonAscii non-ASCII documents — q76's oracle (codepoint " +
            "stats) no longer matches the Spark side (byte stats); derive the " +
            "oracle from the encoded blob before regenerating fixtures")
      }
  }

  test("q137: bloom prefilter result equals the exact probe-join over all docs") {
    // exactness hinges on the Bloom guarantee of no false negatives: the
    // prefilter may only ADD candidates (removed again by the confirm
    // join), never drop a true positive. Compare against the q94-shaped
    // exact path run over the FULL corpus with the same 500-probe list.
    val probes = broadcast(TextPack.topBigrams(spark, dir, 500).select(col("bigram")))
    val exact = Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.NGramShingles.shinglesFast(
          graft.functions.tokens(col("text")), 2).as("bigrams"))
      .join(probes, array_contains(col("bigrams"), col("bigram")), "left_semi")
      .select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    val bloomed = TextPack.decontaminateBloom(spark, dir, 500)
    assert(bloomed.queryExecution.executedPlan.toString.contains("might_contain"),
      "prefilter must run through the native BloomFilterMightContain expression")
    assert(bloomed.collect().map(_.getLong(0)).toSeq == exact)
  }

  test("q138: normal-equation solve fits a planted exact-linear fixture to machine precision") {
    import spark.implicits._
    // y = 2 + 3*x1 + 5*x2 planted exactly: the sufficient statistics must
    // recover (2, 3, 5) up to solver round-off
    val rows = Seq((1L, 4L), (2L, 9L), (3L, 5L), (7L, 11L), (10L, 2L), (6L, 6L))
      .map { case (x1, x2) => (x1, x2, 2L + 3 * x1 + 5 * x2) }
    val st = rows.toDF("x1", "x2", "y")
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s_x1"), sum(col("x2")).as("s_x2"),
        sum(col("x1") * col("x1")).as("s_x1x1"),
        sum(col("x1") * col("x2")).as("s_x1x2"),
        sum(col("x2") * col("x2")).as("s_x2x2"),
        sum(col("y")).as("s_y"),
        sum(col("x1") * col("y")).as("s_x1y"),
        sum(col("x2") * col("y")).as("s_x2y")).head()
    val (b0, b1, b2) = ReferenceForms.solveNormalEquations(
      st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3),
      st.getLong(4), st.getLong(5), st.getLong(6), st.getLong(7), st.getLong(8))
    assert(math.abs(b0 - 2) < 1e-9 && math.abs(b1 - 3) < 1e-9 &&
      math.abs(b2 - 5) < 1e-9, s"got ($b0, $b1, $b2)")
  }

  test("q138: corpus fit satisfies residual orthogonality (the least-squares witness)") {
    // X'(y − Xβ) = 0 characterizes the least-squares solution; evaluate
    // each component from the same statistics row the query returns
    val st = TextPack.regressionSuffStats(spark, dir).head()
    val Seq(n, sX1, sX2, sX1X1, sX1X2, sX2X2, sY, sX1Y, sX2Y) =
      (0 until 9).map(st.getLong)
    val (b0, b1, b2) = ReferenceForms.solveNormalEquations(
      n, sX1, sX2, sX1X1, sX1X2, sX2X2, sY, sX1Y, sX2Y)
    val r0 = sY - (b0 * n + b1 * sX1 + b2 * sX2)
    val r1 = sX1Y - (b0 * sX1 + b1 * sX1X1 + b2 * sX1X2)
    val r2 = sX2Y - (b0 * sX2 + b1 * sX1X2 + b2 * sX2X2)
    val scale = math.max(1.0, math.abs(sX2Y.toDouble))
    assert(math.abs(r0) / scale < 1e-9 && math.abs(r1) / scale < 1e-9 &&
      math.abs(r2) / scale < 1e-9, s"residuals ($r0, $r1, $r2)")
  }

  test("q139: distributed Cramer solve agrees with the driver Gaussian solve per source") {
    // two independent solvers over the same statistics: the codegen'd
    // closed form (q139) and solveNormalEquations (q138's driver path)
    val byCramer = TextPack.regressionBySource(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val stats = Tables.t(spark, dir, "documents")
      .select(col("source"),
        size(graft.functions.tokens(col("text"))).cast("long").as("x1"),
        length(col("text")).cast("long").as("x2"),
        size(regexp_extract_all(col("text"), lit(TextPack.bpeishPattern), lit(0)))
          .cast("long").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .collect()
    assert(stats.nonEmpty && stats.length == byCramer.size)
    stats.foreach { r =>
      val (b0, b1, b2) = ReferenceForms.solveNormalEquations(
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      val (c0, c1, c2) = byCramer(r.getString(0))
      assert(math.abs(b0 - c0) < 1e-4 && math.abs(b1 - c1) < 1e-4 &&
        math.abs(b2 - c2) < 1e-4,
        s"${r.getString(0)}: gaussian ($b0,$b1,$b2) vs cramer ($c0,$c1,$c2)")
    }
  }

  test("repetition signals: crafted docs give exact ratios, 1-token doc gives null bigram ratio") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),    // top a×3/4; bigrams: [a a, a a, a b] → 2 distinct of 3
      (2L, "w x y z"),    // no repetition: top 1/4, 3 distinct bigrams of 3
      (3L, "solo"))       // 1 token: bigram ratio undefined → null
      .toDF("doc_id", "text")
    val got = TextPack.repetitionSignalsOf(docs).collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 4 && r1.getLong(2) == 2 && r1.getLong(3) == 2 &&
      r1.getLong(4) == 3)
    assert(math.abs(r1.getDouble(5) - 0.75) < 1e-15)
    assert(math.abs(r1.getDouble(6) - (1.0 - 2.0 / 3)) < 1e-15)
    val r2 = got(1)
    assert(math.abs(r2.getDouble(5) - 0.25) < 1e-15 && r2.getDouble(6) == 0.0)
    assert(got(2).isNullAt(6), "1-token doc must yield null dup_bigram_ratio, not a div-by-zero artifact")
  }

  test("TopTokenCount == explode+groupBy multiplicity, incl. nulls and ties") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val arrs: Seq[(Long, Seq[Option[String]])] = Seq(
      1L -> Seq(Some("a"), Some("b"), Some("a"), Some("a")),
      2L -> Seq(Some("x"), Some("y")), // tie at 1
      3L -> Seq(None, None, Some("z")), // null group counts like a token
      4L -> Seq(Some("")), // empty-string token
      5L -> Seq.empty) // empty array → 0 (explode form emits no row)
    val df = arrs.toDF("id", "toks")
    val native = df.select(col("id"),
        graft.functions.TopTokenCount.topTokenCountFast(col("toks")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = df.select(col("id"), explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(max(col("c")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    oracle.foreach { case (id, n) =>
      assert(native(id) == n, s"id $id: native ${native(id)} vs explode $n")
    }
    assert(native(5L) == 0L, "empty array returns 0 on the native path")
  }

  test("sequence packing: bins advance exactly at context boundaries, per source") {
    import spark.implicits._
    // 300-token docs, ctx 512: cum_before 0/300/600/900 → bins 0,0,1,1;
    // second source restarts at bin 0
    val doc300 = Seq.fill(300)("w").mkString(" ")
    val docs = Seq(
      (1L, "s1", doc300), (2L, "s1", doc300), (3L, "s1", doc300), (4L, "s1", doc300),
      (10L, "s2", doc300))
      .toDF("doc_id", "source", "text")
    val got = TextPack.sequencePackingOf(docs, 512).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "s1", 0L, 0L), (2L, "s1", 300L, 0L), (3L, "s1", 600L, 1L),
      (4L, "s1", 900L, 1L), (10L, "s2", 0L, 0L)))
    // invariant on the real table: bins per source start at 0 and never skip
    val real = TextPack.sequencePacking(spark, dir)
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val bad = real
      .withColumn("prev_bin", lag(col("bin"), 1, 0L).over(bySrc))
      .filter(col("bin") < col("prev_bin") || col("bin") > col("prev_bin") + 1)
      .count()
    assert(bad == 0, "bins must be non-decreasing and gap-free within a source")
  }

  test("bm25: rarer term outscores commoner term at equal tf; more hits outscore fewer") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark pad"), // tf=3 on spark
      (2L, "spark pad pad pad"),     // tf=1 on spark (df=2)
      (3L, "query pad pad pad"),     // tf=1 on query (df=1 — rarer)
      (4L, "pad pad pad pad"))       // no hit → absent from output
      .toDF("doc_id", "text")
    val got = graft.operators.InvertedIndexPack
      .bm25Of(docs, Seq("spark", "query"), 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(4L), "doc without any query term must not be scored")
    assert(got(1L) > got(2L), "higher tf must outscore at equal df and length")
    assert(got(3L) > got(2L), "rarer term (lower df) must outscore at equal tf and length")
  }

  test("domain mix: boosted sources sample at ~5x the base-rate sources") {
    val got = TextPack.domainMixSample(spark, dir)
    val bySource = got.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val boosted = (0 until 5).map(i => bySource.getOrElse(s"src$i", 0L)).sum
    val base = bySource.filterNot(kv => (0 until 5).map(i => s"src$i").contains(kv._1))
      .values.sum
    // 20 sources × 25 docs each at sf0.01: boosted ≈ 5×25×0.5 ≈ 62,
    // base ≈ 15×25×0.1 ≈ 37 — assert the mixture actually shifted
    assert(boosted > base, s"boosted=$boosted should exceed base=$base")
    // determinism: the sample is a pure function of doc_id
    assert(got.collect().toSeq == TextPack.domainMixSample(spark, dir).collect().toSeq)
  }

  test("single-pass pipeline metrics via observe()") {
    // corpus-health counters ride the SAME job as the query (CollectMetrics
    // operator) — no second scan; the pattern for per-pass observability
    // at 100 TB where "run another count()" doubles the cost
    val obs = org.apache.spark.sql.Observation("corpus_health")
    val docs = Tables.t(spark, dir, "documents")
      .observe(obs,
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
        max(length(col("text"))).as("max_chars"))
    val kept = docs.filter(length(col("text")) > 0).count()
    val m = obs.get
    assert(m("n_docs").asInstanceOf[Long] == 500L)
    assert(m("n_null_text").asInstanceOf[Long] == 0L)
    assert(m("max_chars").asInstanceOf[Int] > 0)
    assert(kept <= m("n_docs").asInstanceOf[Long])
  }

  test("media features: fake decode matches a local recompute") {
    val feats = MultimodalPack.mediaFeatures(spark, dir)
      .filter(col("media_id") < 3).collect()
    val docs = Tables.t(spark, dir, "documents")
      .filter(col("doc_id") < 3).select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.foreach { r =>
      val bytes = docs(r.getLong(0)).getBytes("UTF-8")
      assert(r.getInt(1) == bytes.length)
      assert(math.abs(r.getDouble(2) - bytes.map(_ & 0xff).sum.toDouble / bytes.length) < 1e-9)
      assert(r.getInt(4) == (bytes(0) & 0xff))
    }
  }

  test("q114 vocab coverage: full vocab → zero OOV; top-16 OOV matches independent count") {
    // a vocab covering every distinct token leaves nothing out-of-vocab
    val full = TextPack.vocabCoverage(spark, dir, vocabSize = 10000).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(2) == 0L && r.getDouble(3) == 0.0, s"unexpected OOV: $r")
    }
    // independent recompute of the top-16 cut: token counts → driver-side
    // top-16 (same tie-break) → per-source OOV occurrence count
    val counts = Tables.t(spark, dir, "documents")
      .select(col("source"), explode(graft.functions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totalsByTok = counts.groupBy(_._1._2).view.mapValues(_.values.sum)
    val vocab = totalsByTok.toSeq.sortBy { case (tok, c) => (-c, tok) }
      .take(16).map(_._1).toSet
    val got = TextPack.vocabCoverage(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sources = counts.keySet.map(_._1)
    assert(got.keySet == sources)
    sources.foreach { src =>
      val perSrc = counts.collect { case ((s, tok), c) if s == src => (tok, c) }
      val nTokens = perSrc.map(_._2).sum
      val oov = perSrc.collect { case (tok, c) if !vocab(tok) => c }.sum
      assert(got(src) == (nTokens, oov), s"$src: ${got(src)} vs ($nTokens, $oov)")
      assert(oov > 0, s"$src: top-16 cut should leave some OOV in a 31-token corpus")
    }
  }
}
