package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.tokens

/** Text-analysis pack over `documents` — the per-document statistics a
  * training-data pipeline computes before filtering: token counts
  * (whitespace + BPE-ish regex), quality signals (length / stopword /
  * punctuation ratios), deterministic fingerprints, and a charset/stopword
  * language-ID heuristic. All per-row expressions, no shuffle except the
  * final rollups; at 100 TB this is a map-only pass over the corpus.
  */
object TextPack extends QueryPack {

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "is", "it", "for", "on",
    "with", "as", "at", "by", "or", "be", "this", "that", "are")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
    * symbols — the classic GPT-2-style split, minus lookaheads so the
    * pattern means the same thing in Java and RE2 regex engines.
    */
  val bpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def stats(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nToks = size(toks)
    val stop = lit(stopwords.toArray)
    Seq(
      length(text).cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      size(regexp_extract_all(text, lit(bpeishPattern), lit(0))).cast("long").as("n_bpeish_tokens"),
      (size(filter(toks, t => array_contains(stop, t))).cast("double") /
        nToks).as("stopword_ratio"),
      (size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("double") /
        nToks).as("digit_token_ratio"),
      (length(text).cast("double") / nToks).as("chars_per_token"))
  }

  /** The keep/drop gate over the [[stats]] columns — one definition shared
    * by the per-doc view and the by-source rollup so the two can never
    * disagree on what "quality" means.
    */
  def qualityFlag: Column =
    (col("n_tokens") >= 5) && (col("stopword_ratio") <= 0.5) &&
      (col("chars_per_token") >= 3) && (col("chars_per_token") <= 12)

  /** Per-document stats + a simple keep/drop quality flag. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .select(col("doc_id") +: stats(col("text")): _*)
      .withColumn("is_quality", qualityFlag)
      .orderBy(col("doc_id"))

  /** Corpus rollup of the quality signals by source: ONE scan carrying
    * `source` alongside the per-doc stats straight into the aggregation —
    * a join back to documents just to recover `source` would re-scan and
    * shuffle the corpus a second time for a column the stats projection
    * gets for free.
    */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .select(col("source") +: stats(col("text")): _*)
      .withColumn("is_quality", qualityFlag)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_quality").cast("int")).as("n_quality"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_bpeish_tokens")).as("total_bpeish_tokens"))
      .orderBy(col("source"))

  /** Deterministic document fingerprints: full-text md5 (exact-dup key) and
    * the lexicographic min/max of word-shingle md5s (a 2-hash sketch of
    * content overlap — cheap rolling-hash stand-in).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    // explode + min/max aggregation: each shingle is md5'd exactly once in
    // codegen'd aggregates (the array_min(transform)/array_max(transform)
    // form evaluated the interpreted md5 array twice per doc)
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp_md5"),
        explode(graft.functions.NGramShingles.shinglesFast(tokens(col("text")), 3))
          .as("shingle"))
      .groupBy(col("doc_id"), col("fp_md5"))
      .agg(min(md5(col("shingle"))).as("fp_shingle_min"),
        max(md5(col("shingle"))).as("fp_shingle_max"))
      .select(col("doc_id"), col("fp_md5"), col("fp_shingle_min"), col("fp_shingle_max"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: CJK/Cyrillic/Arabic by charset, else best
    * stopword-profile hit among Latin languages, else 'und'. The testdata's
    * `lang` labels are random w.r.t. content (synthetic corpus), so accuracy
    * is asserted on crafted fixtures in TextSpec, not against that column;
    * here it demonstrates determinism + the rollup shape.
    */
  val latinProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "it", "that"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"))

  def langScore(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(profile.toArray), t)))

  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = latinProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      struct(langScore(toks, prof).as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs = argmax with lexicographic tiebreak
    val best = array_max(array(scored: _*))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[\\u0400-\\u04ff]"), "ru")
      .when(text.rlike("[\\u0600-\\u06ff]"), "ar")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  def langIdRollup(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .select(langId(col("text")).as("pred_lang"))
      .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("pred_lang"))

  /** Text normalization — the cleaning stage before tokenize/dedup:
    * lowercase, strip non-alphanumerics to spaces, collapse whitespace
    * runs, trim. Pure codegen'd string expressions, one map pass.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  def normalizeDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("norm_text"),
        size(tokens(normalize(col("text")))).as("n_norm_tokens"))
      .orderBy(col("doc_id"))

  /** PII redaction patterns: emails, dotted-quad IPv4s, 7-digit phone
    * numbers — applied in this order (fixed on both engines; IPs before
    * phones so neither can eat part of the other's match). Syntax stays in
    * the Java∩RE2 common subset (character classes, bounded repeats,
    * non-capturing groups, \b) so each pattern means the same thing in
    * Spark and in the DuckDB oracle. Deliberately naive dotted-quad rule:
    * version strings like "1.2.3.4" redact too — the standard
    * over-redaction tradeoff, pinned by a TextSpec fixture.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "[EMAIL]",
    """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b""" -> "[IP]",
    """\b[0-9]{3}[-.][0-9]{4}\b""" -> "[PHONE]")

  /** Redact all PII patterns from a text column. Chained codegen'd
    * regexp_replace — map-only, no shuffle, one corpus pass at 100 TB.
    */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** PII-scrub audit over the corpus. The word-soup fixture contains no
    * PII, so the query SEEDS one email + IP + phone per document,
    * deterministically derived from doc_id with the identical expression
    * in the DuckDB oracle — the redaction counts, the per-source
    * chars-redacted sums, and the residual-match count (must be 0) are
    * then a real cross-engine parity check of the regex kernel, not a
    * vacuous zeros-equal-zeros pass.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val seeded = graft.Tables.docs(spark, dir).select(
      col("doc_id"), col("source"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
        (expr("doc_id div 256") % 256).cast("string"), lit(".7 tel 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    def matches(c: Column, p: String) =
      size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
    seeded
      .select(col("source"), col("text"), scrubPii(col("text")).as("scrubbed"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(matches(col("text"), piiPatterns(0)._1)).as("emails"),
        sum(matches(col("text"), piiPatterns(1)._1)).as("ips"),
        sum(matches(col("text"), piiPatterns(2)._1)).as("phones"),
        sum(piiPatterns.map(p => matches(col("scrubbed"), p._1))
          .reduce(_ + _)).as("residual"),
        sum((length(col("text")) - length(col("scrubbed"))).cast("long"))
          .as("chars_redacted"))
      .orderBy(col("source"))
  }

  /** End-to-end corpus filter — the C4-style pipeline composition a
    * training run actually consumes: per-doc quality stats → quality gate →
    * exact-dedup representative (smallest doc_id per md5) among the
    * SURVIVORS (gate before dedup: no point hashing docs that get dropped).
    * One map pass for stats + one narrow shuffle on the 16-byte fingerprint
    * for the ranking window; text never crosses the wire. Filter order and
    * the representative rule are part of the contract, mirrored in the
    * DuckDB oracle. Thresholds are calibrated to the synthetic corpus
    * (stopword_ratio p80 ≈ 0.09, n_tokens p10 ≈ 19 at every SF) so the
    * gate observably drops ~30% here — q61's generic thresholds keep 100%
    * of this word-soup fixture, which would make the composition a no-op.
    */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.docs(spark, dir)
    val quality = docs
      .select(Seq(col("doc_id"), col("source"),
        md5(col("text")).as("fp")) ++ stats(col("text")): _*)
      .filter((col("n_tokens") >= 15) && (col("stopword_ratio") <= 0.08) &&
        (col("chars_per_token") >= 3) && (col("chars_per_token") <= 12))
    val byFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    quality
      .withColumn("rn", row_number().over(byFp))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_bpeish_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level n-gram statistics: the top-20 2-gram shingles by
    * document frequency — the "most common phrases" table a pipeline
    * inspects for boilerplate and uses as a decontamination probe list
    * (q94). explode → distinct per doc (NGramShingles dedups) → count →
    * top-k via TakeOrderedAndProject; ties broken lexicographically so
    * the cut is deterministic on any engine.
    */
  def topBigrams(spark: SparkSession, dir: String, k: Int = BigramK): DataFrame = {
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.NGramShingles.shinglesFast(tokens(col("text")), 2))
          .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram"))
      .limit(k)
  }

  /** Benchmark decontamination — flag documents containing any probe
    * phrase. The probe list here is the q93 top-bigram set (self-contained
    * and deterministic); in production it is the eval-benchmark n-grams.
    * Scale shape: the probe list is tiny by construction → broadcast to a
    * per-doc `exists` over the shingle array; the corpus is scanned once,
    * nothing shuffles except the final rollup-free projection.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val probes = broadcast(topBigrams(spark, dir).select(col("bigram")))
    val docs = graft.Tables.docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.NGramShingles.shinglesFast(tokens(col("text")), 2).as("bigrams"))
    docs.join(probes,
        array_contains(col("bigrams"), col("bigram")), "left_semi")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination at the 100 TB probe-set shape. q94 ships the probe
    * list itself into the scan (`array_contains` over a broadcast list) —
    * right for 20 bigrams, wrong for the millions of eval-benchmark
    * n-grams a production decontamination pass screens against. Here the
    * probe set is summarized as a Bloom filter built by a DISTRIBUTED
    * aggregate (`BloomFilterAggregate`: partial blooms OR-merge on the
    * executors, only the final `numBits/8`-byte sketch reaches the
    * driver), the corpus is prefiltered map-side with
    * `exists(bigrams, b -> might_contain(bloom, xxhash64(b)))`, and the
    * exact semi-join runs ONLY over surviving candidates. A Bloom false
    * positive costs one candidate row in the confirm join; false
    * negatives are impossible — so the result is EXACT and shares q94's
    * oracle shape. At 16 bits/item (fpp ≈ 5e-4) a 10M-probe set is a
    * ~20 MB broadcast instead of a shuffled join against every shingle
    * of a 100 TB corpus.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, k: Int = BloomProbeK): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    import org.apache.spark.sql.types.BinaryType

    // materialize the k probe bigrams ONCE (bounded collect: k strings):
    // both consumers below — the bloom build's .head() and the broadcast
    // confirm-join — otherwise re-execute the full topBigrams pipeline
    // (corpus scan + explode + aggregate + top-k), doubling the most
    // expensive stage of the query
    import spark.implicits._
    val probes = topBigrams(spark, dir, k).select(col("bigram"))
      .collect().map(_.getString(0)).toSeq.toDF("bigram")
    // the aggregate hashes LongType input; feed xxhash64 on both sides
    val bloomAgg = new BloomFilterAggregate(
      GraftSqlBridge.expression(xxhash64(col("bigram"))),
      Literal(k.toLong), Literal(k.toLong * 16))
    val bloomBytes = probes
      .select(GraftSqlBridge.column(bloomAgg.toAggregateExpression()).as("bloom"))
      .head().getAs[Array[Byte]](0)
    val mightHit = (b: Column) => GraftSqlBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), GraftSqlBridge.expression(xxhash64(b))))
    val docs = graft.Tables.docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.NGramShingles.shinglesFast(tokens(col("text")), 2).as("bigrams"))
    docs.filter(exists(col("bigrams"), mightHit))
      .join(broadcast(probes),
        array_contains(col("bigrams"), col("bigram")), "left_semi")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Supervised linear-model training by SUFFICIENT STATISTICS — the
    * third member of the distributed-ML trio (k-means clusters, PCA
    * projects, this FITS): a least-squares regressor predicting the
    * BPE-ish token count from cheap surface features (whitespace tokens,
    * characters). The registered query returns the normal-equation
    * sufficient statistics X'X and X'y as ONE row of exact BIGINTs: every
    * feature is a per-document integer, so every entry is an integer sum
    * of integer products — bit-identical in any engine, immune to FP
    * order-of-addition (the reason the query surface is the statistics
    * and not the d-vector of float coefficients: a distributed float
    * reduction is not deterministic, integer sums are). The d×d solve is
    * `ReferenceForms.solveNormalEquations` — driver-side, O(d³) on a 3×3,
    * tested for residual orthogonality in TextSpec.
    *
    * Scale shape: ONE map pass over the corpus computing the products +
    * one all-to-one partial aggregate (d(d+3)/2 longs per partition cross
    * the network, nothing else) — the classic "train on 100 TB with
    * driver state that fits in a cache line" pattern. Overflow headroom:
    * n_chars ≤ 10⁴ ⇒ per-row products ≤ 10⁸, so ~9·10¹⁰ rows fit a long.
    */
  def regressionSuffStats(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .select(size(tokens(col("text"))).cast("long").as("x1"),
        length(col("text")).cast("long").as("x2"),
        size(regexp_extract_all(col("text"), lit(bpeishPattern), lit(0)))
          .cast("long").as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s_x1"), sum(col("x2")).as("s_x2"),
        sum(col("x1") * col("x1")).as("s_x1x1"),
        sum(col("x1") * col("x2")).as("s_x1x2"),
        sum(col("x2") * col("x2")).as("s_x2x2"),
        sum(col("y")).as("s_y"),
        sum(col("x1") * col("y")).as("s_x1y"),
        sum(col("x2") * col("y")).as("s_x2y"))

  /** Grouped supervised fit, solve included — per-SOURCE least-squares
    * coefficients with NO driver participation: where q138 collects one
    * statistics row and solves on the driver (right for one global
    * model), a 100 TB corpus fits thousands of per-domain calibration
    * models, so here the 3×3 normal-equation solve itself runs inside
    * the executors as closed-form Cramer's-rule column expressions over
    * the grouped integer sums. One groupBy(source) shuffle of
    * d(d+3)/2 longs per group; everything after is a map-only codegen'd
    * projection. Oracle-checkable because both engines evaluate the
    * LITERAL SAME formula: sums stay exact longs, each is cast to
    * double once, and the determinant/cofactor arithmetic is the
    * identical IEEE op sequence on both sides (the q126 PCA-oracle
    * precedent), rounded to 6 decimals at the boundary.
    */
  def regressionBySource(spark: SparkSession, dir: String): DataFrame = {
    val stats = graft.Tables.docs(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("x1"),
        length(col("text")).cast("long").as("x2"),
        size(regexp_extract_all(col("text"), lit(bpeishPattern), lit(0)))
          .cast("long").as("y"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x1")).cast("double").as("s1"),
        sum(col("x2")).cast("double").as("s2"),
        sum(col("x1") * col("x1")).cast("double").as("s11"),
        sum(col("x1") * col("x2")).cast("double").as("s12"),
        sum(col("x2") * col("x2")).cast("double").as("s22"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x1") * col("y")).cast("double").as("s1y"),
        sum(col("x2") * col("y")).cast("double").as("s2y"))
    // Cramer on the symmetric 3×3 [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]:
    // column replacement by [sy,s1y,s2y]; op order mirrors the oracle SQL
    // token for token
    val det =
      col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val det0 =
      col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
        col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 =
      col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
        col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
    val det2 =
      col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
        col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
        col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
    // singular system (a source with < 3 docs, or collinear features) →
    // NULL coefficients on BOTH sides, not 0/0: NaN/Inf round semantics
    // differ across engines and a silent NaN downstream is undebuggable.
    // det is exact here (integer sums within 2^53 cast to double), so an
    // exact-zero test is deterministic and identical in both engines.
    def coef(d: org.apache.spark.sql.Column) =
      when(det === 0.0, lit(null)).otherwise(round(d / det, 6))
    stats.select(col("source"), col("n").cast("long").as("n_docs"),
        coef(det0).as("b0"), coef(det1).as("b1"), coef(det2).as("b2"))
      .orderBy(col("source"))
  }

  /** Gopher-style repetition signals — the quality filters that catch
    * degenerate/boilerplate text which length and stopword ratios miss:
    * top-token concentration (max single-token frequency / tokens) and
    * duplicate-bigram fraction (1 − distinct bigrams / total bigrams).
    * Scale shape: the distinct counts are map-only per-row expressions
    * (native NGramShingles dedups in one pass); the top-token count is a
    * two-phase hash aggregation on (doc_id, token) then (doc_id) — never a
    * per-row O(n²) loop — and the final join is doc_id-to-doc_id.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignalsOf(graft.Tables.docs(spark, dir))

  /** Core of q100 over any (doc_id, text) frame (crafted fixtures in
    * TextSpec).
    */
  def repetitionSignalsOf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // top token multiplicity MAP-SIDE (round 11): a native hash-count
    // expression (TopTokenCount) inside whole-stage codegen. The explode →
    // groupBy(doc_id, tok) → groupBy(doc_id) form pushed every distinct
    // (doc, token) pair of the corpus through two exchanges — at 100 TB a
    // corpus-sized shuffle for a per-row statistic — and the interpreted
    // aggregate(array_sort(...)) fold measured +0.4 s at sf0.1 (the HOF
    // tax the other native expressions exist for). Null text is dropped
    // below exactly as explode-of-null dropped those docs before.
    val topCnt = graft.functions.TopTokenCount.topTokenCountFast(toks)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        size(graft.functions.NGramShingles.shinglesFast(toks, 2)).cast("long")
          .as("n_distinct_bigrams"),
        topCnt.as("top_token_n"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_distinct_bigrams"), col("top_token_n"),
        (col("top_token_n").cast("double") / col("n_tokens")).as("top_token_ratio"),
        when(col("n_tokens") >= 2,
          lit(1.0) - col("n_distinct_bigrams").cast("double") / (col("n_tokens") - 1))
          .as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing — assign each document to a fixed-size context-window
    * bin (the batch-construction step before training): within each source,
    * docs in doc_id order fill consecutive `ctxTokens`-token windows;
    * bin = exclusive-running-token-count div window size. Pure integer
    * window arithmetic, one shuffle on `source`; at 100 TB the partition
    * key is (source, shard) so no single window sort exceeds a task.
    */
  def sequencePacking(spark: SparkSession, dir: String, ctxTokens: Int = PackCtx): DataFrame =
    sequencePackingOf(graft.Tables.docs(spark, dir), ctxTokens)

  /** Core of q102 over any (doc_id, source, text) frame. */
  def sequencePackingOf(docs: DataFrame, ctxTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before div $ctxTokens").as("bin"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Fixed-window strided document chunking — the context-window slicing
    * a pretraining pipeline runs before packing: each document's token
    * stream becomes windows of `window` tokens starting every `stride`
    * tokens (stride < window ⇒ overlap, so every token lands in ≥1 full
    * context unless the doc is shorter than the window). Emits per chunk
    * the 1-based start offset, its token count, and an md5 fingerprint of
    * the chunk text — the compact projection (shipping chunk TEXT through
    * the hash compare would re-materialize the corpus several times
    * over). Map-only until the harness orderBy: tokenize, explode the
    * start-offset sequence, slice — at 100 TB this is one pass with
    * output ≈ (window/stride)× the input tokens, the expected chunking
    * amplification.
    */
  def docChunks(spark: SparkSession, dir: String,
                window: Int = ChunkWindow, stride: Int = ChunkStride): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got stride=$stride window=$window")
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // tokens() never yields an empty array (split of "" is [""]), so the
      // start sequence 1, 1+stride, … ≤ len is always well-formed
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(stride))).as("start"))
      .select(col("doc_id"), col("start"),
        size(slice(col("toks"), col("start"), lit(window))).cast("long").as("n_tokens"),
        md5(array_join(slice(col("toks"), col("start"), lit(window)), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("start"))
  }

  /** Per-source EXACT token-length percentiles — the corpus length report
    * every dataset card publishes, as the GROUPED form of the q85/q105
    * histogram-exact machinery (AggPack.histogramPercentiles): one corpus
    * pass builds the (source, n_tokens, count) histogram, the rank cumsum
    * runs bucket-local per source, and the p50/p95 probes fan across the
    * data-driven source set. Integer token counts ⇒ the interpolation is
    * exact cross-engine (the q85 argument). At 100 TB: histogram rows =
    * sources × distinct lengths — always tiny next to the corpus.
    */
  def sourceLengthPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = graft.Tables.docs(spark, dir)
      .select(col("source").as("g"),
        size(tokens(col("text"))).cast("double").as("v"))
      // quantile_cont (the oracle) ignores NULLs; a NULL length would both
      // inflate n and sort into a phantom first bucket, shifting every rank
      .filter(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    // v is a token count, integer-scaled as AggPack.monotoneBucket needs
    // to spread keys over buckets.
    // fanAllGroups derives the source set from the histogram's own bounds
    // aggregate (a hist.select(g).distinct() here was collapsing into a
    // SECOND corpus scan), and grouped=true makes the probe-hit aggregate
    // emit the pivoted (g, p50, p95) shape directly — round-11 fusion
    val probesDf = Seq(("p50_tokens", 0.5), ("p95_tokens", 0.95)).toDF("name", "p")
    AggPack.histogramPercentiles(hist, probesDf,
        names = Seq("p50_tokens", "p95_tokens"),
        fanAllGroups = true, grouped = true)
      .select(col("g").as("source"), col("p50_tokens"), col("p95_tokens"))
      .orderBy(col("source"))
  }

  /** Domain-mix resampling — reweight the corpus toward a target source
    * mixture (the data-mixture step of training-set construction): each
    * source gets an acceptance rate; a doc is kept iff its deterministic
    * hash-uniform u = int(md5(doc_id)[0:4]) / 2¹⁶ falls below the rate.
    * Like q91, reproducible on any engine/cluster/partitioning — and the
    * per-source rates ride a broadcast join, so the corpus pass stays
    * map-only (at 100 TB the rates table is thousands of rows, never a
    * shuffle). u's divisor is a power of two, so u is exact and the
    * keep/drop comparison is the identical IEEE compare on both engines.
    */
  def domainMixSample(spark: SparkSession, dir: String,
                      boosted: Seq[String] = MixBoosted,
                      boostRate: Double = MixBoostRate, baseRate: Double = MixBaseRate): DataFrame = {
    import spark.implicits._
    val rates = boosted.map(_ -> boostRate).toDF("source", "rate")
    val u = graft.functions.md5Uniform(col("doc_id").cast("string"))
    graft.Tables.docs(spark, dir)
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(baseRate)))
      .filter(u < col("rate"))
      .select(col("doc_id"), col("source"), col("rate"))
      .orderBy(col("doc_id"))
  }

  /** Percentile-threshold corpus pruning: drop each source's shortest
    * quartile of documents — the "cut the bottom-p% by quality signal per
    * domain" step of corpus curation, phrased so the cut is EXACT and
    * engine-independent: rank-based (row_number over (n_tokens, doc_id)
    * vs ⌊p·n⌋, all integer math plus one correctly-rounded multiply), not
    * a float quantile threshold whose interpolation could disagree across
    * engines at group-size boundaries. One corpus pass computes the token
    * counts; the rank and group count ride a single per-source window
    * exchange.
    */
  /** Constants shared between the curation operators and their oracle SQL
    * (string-interpolated into the `oracle` map below) so the two sides
    * cannot drift: a caller passing a non-default value is a different
    * query and must bring its own oracle.
    */
  val PruneP = 0.25
  val MixK = 15.0
  val ShardN = 16
  val ChunkWindow = 64
  val ChunkStride = 32
  val PackCtx = 512
  val VocabN = 16
  val BigramK = 20
  val BloomProbeK = 500
  val PerSourceK = 10
  val DsirTarget = "src0"
  val DsirK = 10
  val MixBoosted = Seq("src0", "src1", "src2", "src3", "src4")
  val MixBoostRate = 0.5
  val MixBaseRate = 0.1

  def qualityPrune(spark: SparkSession, dir: String, p: Double = PruneP): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLen = Window.partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))
    val bySrc = Window.partitionBy(col("source"))
    graft.Tables.docs(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(byLen).cast("long"))
      .withColumn("n", count(lit(1)).over(bySrc))
      .filter(col("rk") > floor(lit(p) * col("n").cast("double")))
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Temperature-based domain rebalancing — the √-temperature (T = 2)
    * mixture weighting training corpora use to keep small domains from
    * drowning: each source's selection quota scales with the SQUARE ROOT
    * of its size relative to the largest source, so a 100×-smaller domain
    * still contributes 10× fewer (not 100× fewer) documents. Where q103
    * applies hand-set per-source rates and q123 a fixed k per source, the
    * quota here is DATA-DRIVEN: quota_d = max(1, ⌊k·√(size_d/size_max)⌋),
    * where size_d is the source's CHARACTER mass (sum of the physical
    * `n_chars` column — the cheap proxy both sides aggregate; a
    * deployment weighting by real token counts would swap in its
    * tokenizer's counts here AND in the oracle, off by roughly the
    * chars-per-token factor).
    *
    * Cross-engine exactness by construction: size_d and size_max are integer
    * aggregates, and /, √, ×, ⌊⌋ are each IEEE correctly-rounded single
    * ops, so the quota is bit-identical on both engines — deliberately NO
    * cross-domain normalization sum (Σ√tok_d), whose float reduction order
    * would differ between engines. Selection within a source is the q123
    * deterministic-md5 order. Shape at scale: one two-phase corpus agg for
    * the sizes, a broadcast quota table, one per-source ranking window
    * (the TopKPerKey shape — a deployment with giant sources serves it as
    * top-(max quota) heaps, then trims per-key against the broadcast
    * quota).
    */
  def temperatureMix(spark: SparkSession, dir: String, k: Double = MixK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.docs(spark, dir)
    val tok = docs.groupBy(col("source")).agg(sum(col("n_chars")).as("tok"))
    val tokMax = tok.agg(max(col("tok")).as("tok_max"))
    val quota = tok.crossJoin(broadcast(tokMax))
      .select(col("source"),
        greatest(lit(1L), floor(lit(k) *
          sqrt(col("tok").cast("double") / col("tok_max").cast("double"))).cast("long"))
          .as("quota"))
    val bySource = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(bySource).cast("long"))
      .join(broadcast(quota), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  /** Deterministic corpus shuffle → shard → position: the reproducible
    * global permutation a training run needs (same data order on any
    * engine, any cluster size, any rerun). NO global sort/rank: the shard
    * is a salted-hash bucket (map-only) and the position is a row_number
    * per shard ordered by a second salted hash — the only sort is within
    * each shard's partition, so the plan is one hash exchange on shard
    * regardless of corpus size. Readers consume shards in (shard, pos)
    * order; the two salts decorrelate shard membership from intra-shard
    * order.
    */
  def shuffleShards(spark: SparkSession, dir: String, nShards: Int = ShardN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = (graft.functions.md5Bucket16(concat(lit("shard:"),
      col("doc_id").cast("string"))) % nShards)
      .cast("int").as("shard")
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(md5(concat(lit("order:"), col("doc_id").cast("string"))), col("doc_id"))
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"), shard)
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Deterministic train/val/test split — the assignment a training run
    * makes ONCE and must be able to recompute identically forever (any
    * engine, any partitioning, any rerun): split = hash-uniform
    * u = int(md5('split:' || doc_id)[0:4]) / 2¹⁶ thresholded at 0.8/0.9.
    * The salt decorrelates the split from q103's sampling hash (same
    * doc_id must not land in 'train' iff it survived sampling). Map-only
    * assignment; the rollup is the only shuffle. Disjoint and exhaustive
    * by construction (CASE on one u); per-source counts land within
    * binomial bounds of 80/10/10 (PropertySpec-style check in TextSpec).
    */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.functions.md5Uniform(concat(lit("split:"),
      col("doc_id").cast("string")))
    graft.Tables.docs(spark, dir)
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise(lit("test")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** Unigram LM quality score (the CCNet-style filter): train a corpus
    * unigram model (token → relative frequency) and score each document by
    * its mean token negative log-likelihood — low = in-distribution
    * boilerplate-ish text, high = out-of-distribution/noise. Scale shape:
    * one explode pass to count (two-phase agg), one token-keyed join back
    * (the LM side is count-shrunk — vocabulary-sized, not corpus-sized),
    * one per-doc aggregation. No smoothing needed: every scored token is
    * in the training counts by construction. round(…, 4) absorbs both
    * ln()'s 1-ulp cross-engine play and partial-sum merge-order wobble.
    */
  def lmQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val lm = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    tok.join(lm, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt").cast("double") / col("total"))), 4).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary coverage — the tokenizer-design probe a pipeline runs
    * before committing to a vocab: build the top-V vocabulary by corpus
    * term frequency (ties broken lexicographically so the cut is
    * deterministic on any engine), then measure per-source out-of-vocab
    * token rate. Scale shape: one explode pass feeds a two-phase count;
    * the vocab is V rows by construction → broadcast back over the same
    * token stream; per-source rollup is the only wide shuffle. V=16
    * against this fixture's 31-token vocabulary makes OOV non-trivial.
    */
  def vocabCoverage(spark: SparkSession, dir: String, vocabSize: Int = VocabN): DataFrame = {
    val tok = graft.Tables.docs(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .orderBy(col("source"))
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * every document by how much its unigram distribution resembles a
    * TARGET domain relative to the raw corpus, keep the top-k per source.
    * The paper samples ∝ importance weight; with a deterministic oracle we
    * take the top slice — the zero-temperature limit of the resampling.
    *
    * Per-token weight is the integer surrogate
    * `cnt_target(w)·N_raw − cnt_raw(w)·N_target` — same sign and ordering
    * as `p_target(w) − p_raw(w)` but exact in 64-bit, so doc scores hash
    * identically across engines (the paper's log-ratio form diverges in
    * the last ulp between libm and java.lang.Math logs). Bound: weights
    * ≤ N_raw·N_target and a doc's score ≤ n_tokens·N_raw·N_target — fine
    * to ~10^9 corpus tokens in signed 64-bit; past that, switch the weight
    * to double (the ordering is what matters, not the units).
    *
    * Scale shape: token counting is one explode + hash agg (vocab-sized
    * result), the weight table broadcasts, scoring is a map-side join +
    * per-doc sum — no all-pairs stage anywhere. Top-k per source is the
    * q36 window form over an already per-doc-sized input.
    */
  def dsirImportance(spark: SparkSession, dir: String, target: String = DsirTarget,
                     k: Int = DsirK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("source") === target, 1L).otherwise(0L)).as("c_tgt"))
    val totals = cnt.agg(sum(col("c_raw")).as("n_raw"), sum(col("c_tgt")).as("n_tgt"))
    val weights = cnt.crossJoin(broadcast(totals))
      .select(col("tok"),
        (col("c_tgt") * col("n_raw") - col("c_raw") * col("n_tgt")).as("wt"))
    val scored = toks.join(broadcast(weights), Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("wt")).as("score"))
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(bySource))
      .filter(col("rn") <= k).drop("rn")
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(col("source"), col("score").desc, col("doc_id"))
  }

  /** Fixed-quota per-stratum sample: EXACTLY k docs per source, chosen by
    * a deterministic pseudo-random order (md5 of doc_id — bit-identical
    * across engines, so the "random" pick is oracle-checkable). The
    * fixed-k twin of q103's rate-based domain mixing — "take N examples
    * per domain" is the curation step when quotas, not rates, are the
    * spec. Served by the custom TopKPerKeyExec: one key-clustered
    * exchange into bounded k-row heaps, no per-source sort of the rest.
    */
  def samplePerSource(spark: SparkSession, dir: String, k: Int = PerSourceK): DataFrame =
    graft.plans.TopKPerKey(
        graft.Tables.docs(spark, dir)
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string")).as("u")),
        Seq("source"),
        Seq(col("u"), col("doc_id")),
        k)
      .select(col("source"), col("doc_id"), col("u"))
      .orderBy(col("source"), col("u"), col("doc_id"))

  val queries = Map(
    "q134_source_length_percentiles" -> sourceLengthPercentiles _,
    "q132_doc_chunking" -> ((s: SparkSession, d: String) => docChunks(s, d)),
    "q60_text_stats" -> textStats _,
    "q121_dsir_importance" -> ((s: SparkSession, d: String) => dsirImportance(s, d)),
    "q123_sample_per_source" -> ((s: SparkSession, d: String) => samplePerSource(s, d)),
    "q114_vocab_coverage" -> ((s: SparkSession, d: String) => vocabCoverage(s, d)),
    "q100_repetition_signals" -> repetitionSignals _,
    "q107_lm_quality_score" -> lmQualityScore _,
    "q103_domain_mix_sample" -> ((s: SparkSession, d: String) => domainMixSample(s, d)),
    "q144_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "q146_shuffle_shards" -> ((s: SparkSession, d: String) => shuffleShards(s, d)),
    "q150_quality_prune" -> ((s: SparkSession, d: String) => qualityPrune(s, d)),
    "q102_sequence_packing" -> ((s: SparkSession, d: String) => sequencePacking(s, d)),
    "q92_corpus_filter" -> corpusFilter _,
    "q93_top_bigrams" -> ((s: SparkSession, d: String) => topBigrams(s, d)),
    "q94_decontaminate" -> decontaminate _,
    "q137_decontaminate_bloom" -> ((s: SparkSession, d: String) => decontaminateBloom(s, d)),
    "q138_regression_suffstats" -> regressionSuffStats _,
    "q139_regression_by_source" -> regressionBySource _,
    "q59_normalize" -> normalizeDocs _,
    "q110_pii_scrub" -> piiScrub _,
    "q111_train_val_test" -> trainValTestSplit _,
    "q61_quality_by_source" -> qualityBySource _,
    "q62_fingerprints" -> fingerprints _,
    "q63_langid_rollup" -> langIdRollup _)

  private val statsSql =
    """SELECT doc_id, length(text) AS n_chars,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpeish_tokens,
      |  len(list_filter(string_split(text, ' '),
      |      t -> list_contains(['the','a','an','of','to','in','and','is','it','for','on','with','as','at','by','or','be','this','that','are'], t)))
      |    * 1.0 / len(string_split(text, ' ')) AS stopword_ratio,
      |  len(list_filter(string_split(text, ' '), t -> regexp_full_match(t, '[0-9]+')))
      |    * 1.0 / len(string_split(text, ' ')) AS digit_token_ratio,
      |  length(text) * 1.0 / len(string_split(text, ' ')) AS chars_per_token
      |FROM documents""".stripMargin

  val oracle = Map(
    "q134_source_length_percentiles" ->
      """SELECT source,
        |  quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_tokens,
        |  quantile_cont(len(string_split(text, ' ')), 0.95) AS p95_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q132_doc_chunking" ->
      // DuckDB list slicing is 1-based inclusive: toks[s : s+window-1]
      // ≡ Spark slice(toks, s, window); range() is end-exclusive where
      // sequence() is inclusive — the +1 keeps the start sets identical
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    CAST(unnest(range(1, len(toks) + 1, CHUNK_STRIDE)) AS INT) AS start
        |  FROM d)
        |SELECT doc_id, start,
        |  CAST(len(toks[start : start + CHUNK_WM1]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(toks[start : start + CHUNK_WM1], ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, start""".stripMargin
        .replaceChecked("CHUNK_STRIDE", ChunkStride.toString)
        .replaceChecked("CHUNK_WM1", (ChunkWindow - 1).toString),
    "q123_sample_per_source" ->
      """SELECT source, doc_id, u FROM (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS u,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= PERSRC_K ORDER BY source, u, doc_id""".stripMargin
        .replaceChecked("PERSRC_K", PerSourceK.toString),
    "q121_dsir_importance" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT tok, count(*) AS c_raw,
        |    sum(CASE WHEN source = 'DSIR_TGT' THEN 1 ELSE 0 END) AS c_tgt
        |  FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM cnt),
        |w AS (
        |  SELECT tok,
        |    c_tgt * (SELECT n_raw FROM tot) - c_raw * (SELECT n_tgt FROM tot)
        |      AS wt
        |  FROM cnt),
        |scored AS (
        |  SELECT doc_id, source, CAST(sum(wt) AS BIGINT) AS score
        |  FROM toks JOIN w USING (tok) GROUP BY doc_id, source)
        |SELECT doc_id, source, score FROM (
        |  SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY score DESC, doc_id) AS rn
        |  FROM scored) t
        |WHERE rn <= DSIR_K ORDER BY source, score DESC, doc_id""".stripMargin
        .replaceChecked("DSIR_TGT", DsirTarget)
        .replaceChecked("DSIR_K", DsirK.toString),
    "q114_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM tok GROUP BY tok
        |  ORDER BY count(*) DESC, tok LIMIT VOCAB_N)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END)
        |    AS BIGINT) AS oov_tokens,
        |  round(sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END)
        |    * 1.0 / count(*), 6) AS oov_rate
        |FROM tok GROUP BY source ORDER BY source""".stripMargin
        .replaceChecked("VOCAB_N", VocabN.toString),
    "q111_train_val_test" ->
      """SELECT source,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT source, text,
        |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) / 65536.0 AS u
        |  FROM documents) s
        |GROUP BY source, split ORDER BY source, split""".stripMargin,
    "q110_pii_scrub" ->
      // same seeding expression, same pattern set, same fixed replace
      // order; DuckDB regexp_replace needs the explicit 'g' flag to match
      // Spark's replace-all default
      """WITH seeded AS (
        |  SELECT doc_id, source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7 tel 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |scrubbed AS (
        |  SELECT source, text,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
        |      '\b[0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g') AS scrub
        |  FROM seeded)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS emails,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))) AS BIGINT) AS ips,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '\b[0-9]{3}[-.][0-9]{4}\b'))) AS BIGINT) AS phones,
        |  CAST(sum(
        |      len(regexp_extract_all(scrub, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(scrub, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        |    + len(regexp_extract_all(scrub, '\b[0-9]{3}[-.][0-9]{4}\b'))) AS BIGINT) AS residual,
        |  CAST(sum(length(text) - length(scrub)) AS BIGINT) AS chars_redacted
        |FROM scrubbed GROUP BY source ORDER BY source""".stripMargin,
    "q107_lm_quality_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 4) AS nll
        |FROM tok JOIN lm USING (tok) CROSS JOIN total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q150_quality_prune" ->
      """WITH tk AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM tk)
        |SELECT source, doc_id, n_tokens FROM r
        |WHERE rk > floor(PRUNE_P * CAST(n AS DOUBLE))
        |ORDER BY source, doc_id""".stripMargin
        .replaceChecked("PRUNE_P", PruneP.toString),
    "q146_shuffle_shards" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substring(md5('shard:' || doc_id), 1, 4)) AS BIGINT)
        |       % SHARD_N AS INT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST(('0x' || substring(md5('shard:' || doc_id), 1, 4)) AS BIGINT) % SHARD_N
        |    ORDER BY md5('order:' || doc_id), doc_id) AS BIGINT) AS pos
        |FROM documents
        |ORDER BY shard, pos""".stripMargin
        .replaceChecked("SHARD_N", ShardN.toString),
    "q144_temperature_mix" ->
      """WITH tok AS (
        |  SELECT source, sum(n_chars) AS tok FROM documents GROUP BY source),
        |q AS (
        |  SELECT source, CAST(greatest(1, floor(MIX_K * sqrt(
        |    CAST(tok AS DOUBLE) / CAST((SELECT max(tok) FROM tok) AS DOUBLE))))
        |    AS BIGINT) AS quota
        |  FROM tok),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT r.source AS source, rk, doc_id FROM r JOIN q ON r.source = q.source
        |WHERE rk <= quota
        |ORDER BY r.source, rk""".stripMargin
        .replaceChecked("MIX_K", MixK.toString),
    "q103_domain_mix_sample" ->
      // DuckDB casts '0x….' hex strings natively; Spark's conv(…,16,10)
      // computes the same integer, so u and the compare are bit-identical
      """SELECT doc_id, source,
        |  CAST(CASE WHEN source IN (MIX_SRCS)
        |    THEN MIX_BOOST ELSE MIX_BASE END AS DOUBLE) AS rate
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      / 65536.0
        |    < CAST(CASE WHEN source IN (MIX_SRCS)
        |        THEN MIX_BOOST ELSE MIX_BASE END AS DOUBLE)
        |ORDER BY doc_id""".stripMargin
        .replaceChecked("MIX_SRCS", MixBoosted.map(b => s"'$b'").mkString(","))
        .replaceChecked("MIX_BOOST", MixBoostRate.toString)
        .replaceChecked("MIX_BASE", MixBaseRate.toString),
    "q100_repetition_signals" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |top AS (
        |  SELECT doc_id, max(c) AS top_token_n FROM (
        |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |    FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u
        |    GROUP BY doc_id, tok) g
        |  GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
        |    CAST(len(list_distinct(CASE WHEN len(w) >= 2
        |      THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |      ELSE [array_to_string(w, ' ')] END)) AS BIGINT) AS n_distinct_bigrams
        |  FROM toks)
        |SELECT doc_id, n_tokens, n_distinct_tokens, n_distinct_bigrams, top_token_n,
        |  top_token_n * 1.0 / n_tokens AS top_token_ratio,
        |  CASE WHEN n_tokens >= 2
        |    THEN 1.0 - n_distinct_bigrams * 1.0 / (n_tokens - 1) END AS dup_bigram_ratio
        |FROM base JOIN top USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q102_sequence_packing" ->
      """SELECT doc_id, source, n_tokens, cum_before, cum_before // PACK_CTX AS bin
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |        PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - len(string_split(text, ' ')) AS BIGINT) AS cum_before
        |  FROM documents) t
        |ORDER BY source, doc_id""".stripMargin
        .replaceChecked("PACK_CTX", PackCtx.toString),
    "q59_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  CAST(len(string_split(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')), ' ')) AS INT) AS n_norm_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_text_stats" ->
      s"""SELECT *,
         |  (n_tokens >= 5 AND stopword_ratio <= 0.5
         |   AND chars_per_token >= 3 AND chars_per_token <= 12) AS is_quality
         |FROM ($statsSql) s ORDER BY doc_id""".stripMargin,
    "q61_quality_by_source" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_tokens >= 5 AND stopword_ratio <= 0.5
         |           AND chars_per_token >= 3 AND chars_per_token <= 12
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_bpeish_tokens) AS BIGINT) AS total_bpeish_tokens
         |FROM ($statsSql) s JOIN documents USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q93_top_bigrams" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t)
        |SELECT bigram, CAST(count(*) AS BIGINT) AS df FROM sh
        |GROUP BY bigram ORDER BY df DESC, bigram LIMIT BIGRAM_K""".stripMargin
        .replaceChecked("BIGRAM_K", BigramK.toString),
    "q94_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        |top AS (
        |  SELECT bigram FROM sh GROUP BY bigram
        |  ORDER BY count(*) DESC, bigram LIMIT BIGRAM_K)
        |SELECT DISTINCT doc_id FROM sh JOIN top USING (bigram)
        |ORDER BY doc_id""".stripMargin
        .replaceChecked("BIGRAM_K", BigramK.toString),
    // q138: every statistic is an integer sum of integer products —
    // exact in both engines regardless of aggregation order
    "q138_regression_suffstats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x1) AS BIGINT) AS s_x1, CAST(sum(x2) AS BIGINT) AS s_x2,
        |  CAST(sum(x1*x1) AS BIGINT) AS s_x1x1,
        |  CAST(sum(x1*x2) AS BIGINT) AS s_x1x2,
        |  CAST(sum(x2*x2) AS BIGINT) AS s_x2x2,
        |  CAST(sum(y) AS BIGINT) AS s_y,
        |  CAST(sum(x1*y) AS BIGINT) AS s_x1y,
        |  CAST(sum(x2*y) AS BIGINT) AS s_x2y
        |FROM (
        |  SELECT len(string_split(text, ' ')) AS x1, length(text) AS x2,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS y
        |  FROM documents) t""".stripMargin,
    // q139: the closed-form solve is the LITERAL same double formula on
    // both engines (sums exact longs, one cast each, identical op order)
    "q139_regression_by_source" ->
      """WITH f AS (
        |  SELECT source, len(string_split(text, ' ')) AS x1, length(text) AS x2,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS y
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(x1*x1) AS DOUBLE) AS s11, CAST(sum(x1*x2) AS DOUBLE) AS s12,
        |    CAST(sum(x2*x2) AS DOUBLE) AS s22, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x1*y) AS DOUBLE) AS s1y, CAST(sum(x2*y) AS DOUBLE) AS s2y
        |  FROM f GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CASE WHEN (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) = 0 THEN NULL ELSE
        |    round((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y))
        |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)), 6) END AS b0,
        |  CASE WHEN (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) = 0 THEN NULL ELSE
        |    round((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2))
        |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)), 6) END AS b1,
        |  CASE WHEN (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) = 0 THEN NULL ELSE
        |    round((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2))
        |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)), 6) END AS b2
        |FROM s ORDER BY source""".stripMargin,
    // q137: identical semantics to q94 at probe size 500 — the Bloom
    // prefilter is exact-by-construction, so the oracle needs no notion
    // of the sketch at all
    "q137_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        |top AS (
        |  SELECT bigram FROM sh GROUP BY bigram
        |  ORDER BY count(*) DESC, bigram LIMIT BLOOM_K)
        |SELECT DISTINCT doc_id FROM sh JOIN top USING (bigram)
        |ORDER BY doc_id""".stripMargin
        .replaceChecked("BLOOM_K", BloomProbeK.toString),
    "q92_corpus_filter" ->
      """WITH s AS (
        |  SELECT doc_id, source, md5(text) AS fp,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpeish_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','an','of','to','in','and','is','it','for','on','with','as','at','by','or','be','this','that','are'], t)))
        |      * 1.0 / len(string_split(text, ' ')) AS stopword_ratio,
        |    length(text) * 1.0 / len(string_split(text, ' ')) AS chars_per_token
        |  FROM documents),
        |q AS (
        |  SELECT * FROM s
        |  WHERE n_tokens >= 15 AND stopword_ratio <= 0.08
        |    AND chars_per_token >= 3 AND chars_per_token <= 12)
        |SELECT doc_id, source, n_tokens, n_bpeish_tokens FROM (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM q) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q62_fingerprints" ->
      """SELECT doc_id, fp_md5,
        |  list_min(sh) AS fp_shingle_min, list_max(sh) AS fp_shingle_max
        |FROM (
        |  SELECT doc_id, md5(text) AS fp_md5,
        |    list_transform(
        |      list_distinct(CASE WHEN len(w) >= 3
        |        THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |        ELSE [array_to_string(w, ' ')] END),
        |      s -> md5(s)) AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) toks) t
        |ORDER BY doc_id""".stripMargin)
  // q63_langid_rollup: intentionally no oracle — heuristic verified on
  // crafted fixtures in TextSpec (testdata lang labels are content-random).
}
