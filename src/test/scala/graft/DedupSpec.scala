package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupPack

/** Sketch-based dedup verified against the exact jaccard ground truth. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = SparkTestSession.sfDir

  private lazy val exactPairs: Map[(Long, Long), Double] =
    DedupPack.dedupJaccard(spark, dir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  /** Unblocked cosine ground truth at >= 0.4 — the O(n²) cross-join the
    * LSH (q73) and semantic (q116) tests both verify against; computed
    * once per suite (it's the most expensive job here).
    */
  private lazy val cosineTruth: Map[(Long, Long), Double] = {
    import org.apache.spark.sql.functions._
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables.t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(graft.functions.CosineSimilarity
          .cosineFast(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("minhash LSH: perfect precision (verification step), recall >= 0.8 at j>=0.5") {
    val lsh = DedupPack.dedupMinhashLsh(spark, dir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exactPairs.keySet),
      s"false positives: ${lsh -- exactPairs.keySet}")
    val recall = lsh.size.toDouble / exactPairs.size.max(1)
    assert(recall >= 0.8, s"recall=$recall (${lsh.size}/${exactPairs.size})")
  }

  test("simhash: near-identical docs collide; distant docs don't") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // near-dup pair: 88 varied words, 3 edited (E[hamming] ≈ 5 of 64);
    // distant docs: disjoint vocabulary (E[hamming] = 32)
    val words = (0 until 88).map(i => s"word$i")
    val base = words.mkString(" ")
    val edited = (words.take(40) ++ Seq("changedA", "changedB", "changedC") ++
      words.drop(43)).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, edited),
      (3L, (100 until 188).map(i => s"other$i").mkString(" ")),
      (4L, (200 until 288).map(i => s"thing$i").mkString(" ")))
      .toDF("doc_id", "text")
    graft.functions.SimHash64.register(spark)
    val sig = docs.select(col("doc_id"),
      graft.functions.SimHash64.simhash64(
        graft.functions.tokens(col("text"))).as("bits"))
    val pairs = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.bits").bitwiseXOR(col("b.bits"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) <= 12, s"near-dup hamming ${pairs((1L, 2L))}")
    assert(pairs((1L, 3L)) > 16 && pairs((1L, 4L)) > 16 && pairs((3L, 4L)) > 16,
      s"distant pairs too close: $pairs")
  }

  test("native NGramShingles == reference HOF shingles semantics") {
    import org.apache.spark.sql.functions._
    graft.functions.NGramShingles.register(spark)
    val docs = Tables.t(spark, dir, "documents").limit(100)
    val diff = docs.select(
        ReferenceForms.shingles(graft.functions.tokens(col("text")), 3).as("hof"),
        graft.functions.NGramShingles
          .shinglesFast(graft.functions.tokens(col("text")), 3).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // null token slots: the HOF windows over RAW positions and concat_ws
    // skips nulls inside each window — the native must not compact nulls
    // first (that would merge tokens across the gap into "a b"-style
    // shingles the HOF never emits). Also pins the short-doc (< n after
    // nothing is compacted) whole-doc branch with a null present.
    val nullToks = spark.sql(
      """SELECT array('a', CAST(NULL AS STRING), 'b', 'c') AS w4,
        |       array('a', CAST(NULL AS STRING)) AS w2""".stripMargin)
    val got = nullToks.select(
        ReferenceForms.shingles(col("w4"), 3).as("hof4"),
        graft.functions.NGramShingles.shinglesFast(col("w4"), 3).as("nat4"),
        ReferenceForms.shingles(col("w2"), 3).as("hof2"),
        graft.functions.NGramShingles.shinglesFast(col("w2"), 3).as("nat2"))
      .collect().head
    assert(got.getSeq[String](0) == got.getSeq[String](1),
      s"null-slot windows diverge: ${got.getSeq[String](0)} vs ${got.getSeq[String](1)}")
    assert(got.getSeq[String](0) == Seq("a b", "b c"),
      s"HOF ground truth moved: ${got.getSeq[String](0)}")
    assert(got.getSeq[String](2) == got.getSeq[String](3) &&
      got.getSeq[String](2) == Seq("a"),
      s"short-doc null branch diverges: ${got.getSeq[String](2)} vs ${got.getSeq[String](3)}")
  }

  test("near-dup clusters: every pair shares a label; labels are component minima") {
    val labels = DedupPack.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    labels.foreach { case (doc, lab) => assert(lab <= doc) }
    exactPairs.keys.foreach { case (d1, d2) =>
      assert(labels(d1) == labels(d2), s"pair ($d1,$d2) split across clusters")
    }
    // each label is itself a member of its cluster
    assert(labels.values.toSet.subsetOf(labels.keySet))
  }

  test("embedding LSH dedup: exact precision, recall >= 0.4 vs unblocked brute force") {
    // shared unblocked ground truth (cosineTruth): every pair with cosine
    // >= 0.4 — the thing q73 approximates without label crutches
    val truth = cosineTruth
    val lsh = DedupPack.dedupEmbeddingLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision is exact: every reported pair is in the ground truth with
    // the identical verified cosine
    lsh.foreach { case (k, c) =>
      assert(truth.get(k).contains(c), s"false positive or cosine drift: $k -> $c")
    }
    // recall on near-orthogonal fixtures (sign-LSH's worst case): the
    // planes are seeded, so this is deterministic — bound set well under
    // the measured value but high enough to catch a broken blocking join
    assert(truth.nonEmpty)
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.4, s"recall=$recall (${lsh.size}/${truth.size})")
  }

  test("hot-shingle df cap is output-neutral at test scale") {
    // max shingle df is 7 at sf0.01 / 25 at sf0.1, far under the default
    // cap of 100 — so capped and effectively-uncapped runs must agree
    // exactly. (The cap only changes behavior where the uncapped self-join
    // would be quadratic in a hot shingle's postings.)
    val capped = DedupPack.dedupJaccard(spark, dir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = DedupPack.dedupJaccard(spark, dir, 0.5, dfCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)
    // a cap of 1 drops every shared shingle, so no pair can intersect —
    // sanity that the cap is actually wired into the join input
    val tight = DedupPack.dedupJaccard(spark, dir, 0.5, dfCap = 1).collect()
    assert(tight.isEmpty)
  }

  test("connectedComponents: pointer jumping converges on a 200-link chain (O(log d) rounds)") {
    import spark.implicits._
    // a 200-node path graph has diameter 200: plain min-label propagation
    // needs ~200 rounds (far over the 30-round cap and any reasonable
    // cluster budget); pointer jumping must converge in ~log2(200)+2 ≈ 10
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupPack.connectedComponents(spark, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200)
    assert(labels.values.forall(_ == 0L), "every chain node must label to the minimum")
  }

  test("connectedComponents: disjoint components get their own minima; star is 1 round") {
    import spark.implicits._
    val g = (Seq((5L, 3L), (3L, 9L)) ++           // component {3,5,9} -> 3
      Seq((20L, 21L), (22L, 21L), (23L, 21L)) ++  // star around 21 -> 20
      Seq((40L, 41L))).toDF("d1", "d2")           // pair -> 40
    val labels = DedupPack.connectedComponents(spark, g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(3L, 5L, 9L).forall(labels(_) == 3L))
    assert(Seq(20L, 21L, 22L, 23L).forall(labels(_) == 20L))
    assert(Seq(40L, 41L).forall(labels(_) == 40L))
  }

  test("dedupJaccard plan reuses the shingle exchange (explode subtree runs once)") {
    // the df-cap window, both self-join sides, and the sizes aggregate all
    // consume the same shingle-partitioned shuffle — ReuseExchange must
    // collapse them onto one materialization of the scan→shingle→explode
    // subtree, or the query pays full extra corpus passes at scale.
    // (AQE pinned off for the assertion: it hides reuse behind lazy query
    // stages in the pre-execution plan string; Verify/Bench run AQE-on,
    // where stage-level reuse applies the same dedup.)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = DedupPack.dedupJaccard(spark, dir).queryExecution.executedPlan.toString
      val reused = "ReusedExchange".r.findAllIn(plan).length
      assert(reused >= 2, s"expected >=2 ReusedExchange nodes, got $reused in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q117 incremental == exact pairs restricted to new(odd) × old(even)") {
    val inc = DedupPack.dedupIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // ground truth: the symmetric exact pairs with one odd and one even
    // member, re-oriented to (new=odd, old=even)
    val expect = exactPairs.collect {
      case ((d1, d2), j) if (d1 + d2) % 2 == 1 =>
        (if (d1 % 2 == 1) (d1, d2) else (d2, d1)) -> j
    }
    assert(expect.nonEmpty, "fixture produced no cross-parity near-dup pairs")
    assert(inc == expect)
  }

  test("q127 store-served incremental dedup == q117 recomputed, twice (build-once)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val recomputed = rows(DedupPack.dedupIncremental(spark, dir))
    // first call builds the KeyedStore postings index (or serves a
    // previously built one), second call MUST serve without rebuilding —
    // both identical to the recompute path
    assert(rows(DedupPack.dedupIncrementalIndexed(spark, dir)) == recomputed)
    assert(rows(DedupPack.dedupIncrementalIndexed(spark, dir)) == recomputed)
  }

  test("q135 stored-df incremental == q117 recomputed, and the serve path never touches old docs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // private corpus copy so we can mutate it: q135's store is keyed by SF
    // fingerprint, so the spec passes its own table/location to keep the
    // real sf0.001 index out of the blast radius
    val tmp = java.nio.file.Files.createTempDirectory("dfidx").toString
    val docs = Tables.t(spark, dir, "documents")
    docs.write.parquet(s"$tmp/documents.parquet")
    Tables.t(spark, dir, "lineitem").write.parquet(s"$tmp/lineitem.parquet")
    def run() = rows(DedupPack.dedupIncrementalStoredDf(spark, tmp,
      tableOverride = "dfidx_spec_store", locationOverride = s"$tmp/store"))
    val recomputed = rows(DedupPack.dedupIncremental(spark, tmp))
    val first = run()
    assert(first == recomputed, "stored-df serve must equal full recompute")
    // PROOF the serve path reads only the index + the new batch: replace
    // every old (even) document's text with garbage and serve again — a
    // path with any dependence on the old corpus (q127's df-cap window
    // had one) would shift dfs/sizes/pairs; q135 must not move a row
    val corrupted = docs.withColumn("text",
      org.apache.spark.sql.functions.when(col("doc_id") % 2 === 0,
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.lit("corrupted"),
          col("doc_id").cast("string"))).otherwise(col("text")))
      .collect().toSeq
    val schema = docs.schema
    spark.createDataFrame(spark.sparkContext.parallelize(corrupted, 2), schema)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(run() == first,
      "serve after corrupting old docs must be byte-identical (index-only old side)")
  }

  test("q135 cap-universe boundary: a shingle crossing the cap between ingests is excluded everywhere") {
    import spark.implicits._
    // dfCap = 3. Shingle "x y z" has df_old = 2 (docs 0, 2) — under the
    // cap at build time, so its postings ARE stored — but df_new = 2
    // (docs 1, 3) pushes the TOTAL to 4 > cap: the serve must drop it
    // from the universe (pairs AND sizes), exactly like q117's
    // full-corpus recompute does. "y z q" stays at df_total = 2.
    val tmp = java.nio.file.Files.createTempDirectory("dfidx_edge").toString
    Seq(
      (0L, "x y z q", "s"), (2L, "x y z r", "s"),
      (1L, "x y z q", "s"), (3L, "x y z s", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$tmp/documents.parquet")
    Seq(1, 2, 3).toDF("l_dummy").write.parquet(s"$tmp/lineitem.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val served = rows(DedupPack.dedupIncrementalStoredDf(spark, tmp, dfCap = 3,
      tableOverride = "dfidx_edge_store", locationOverride = s"$tmp/store"))
    val recomputed = rows(DedupPack.dedupIncremental(spark, tmp, dfCap = 3))
    assert(served == recomputed)
    // the surviving universe is exactly {"y z q"}: doc 1 pairs with doc 0
    // at jaccard 1/(1+1-1) = 1.0 and nothing else pairs
    assert(served == Seq((1L, 0L, 1.0)))
  }

  test("q135 serve keeps a posting whose d sibling is missing (absent df counts 0)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    // docs 0 (old) and 1 (new) are identical: three shared shingles,
    // jaccard 1.0. A marked store that lacks one shingle's d cell must
    // still serve that shingle's posting — counting the missing df as 0,
    // like the batch side does — or doc 0 loses a posting and the pair's
    // jaccard drops to 2/3.
    val tmp = java.nio.file.Files.createTempDirectory("dfidx_nod").toString
    Seq((0L, "a b c d e", "s"), (1L, "a b c d e", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$tmp/documents.parquet")
    Seq(1, 2, 3).toDF("l_dummy").write.parquet(s"$tmp/lineitem.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    DedupPack.dedupIncrementalStoredDf(spark, tmp,
      tableOverride = "dfidx_nod_full", locationOverride = s"$tmp/full").collect()
    val full = spark.table("dfidx_nod_full")
    val dropped = full.where(col("family") === "d").agg(min(col("rowkey"))).head.getString(0)
    val store = "dfidx_nod_store"
    graft.sources.KeyedStore.create(spark, store, s"$tmp/store")
    graft.sources.KeyedStore.put(spark, store,
      full.where(!(col("family") === "d" && col("rowkey") === dropped)))
    graft.sources.KeyedStore.compact(spark, store, maxVersions = 1)
    val served = rows(DedupPack.dedupIncrementalStoredDf(spark, tmp,
      tableOverride = store, locationOverride = s"$tmp/store"))
    assert(served == rows(DedupPack.dedupIncremental(spark, tmp)))
    assert(served == Seq((1L, 0L, 1.0)))
  }

  // One crash-shape spec for both persisted indexes. KeyedStore.buildOnce
  // trusts the compaction marker as proof of a committed build (written
  // only after the overwrite, removed before any append). This pins the
  // other half of that argument: a crash-shaped store — a SUBSET of the
  // real cells, unmarked — must be rebuilt, served identically to the q117
  // recompute, and left marked so later serves take the plain read. It also
  // pins what the marker claims: a built store holds exactly one row per
  // (rowkey, family, qualifier).
  Seq[(String, (String, String, String) => org.apache.spark.sql.DataFrame)](
    "q127" -> ((d, t, l) => DedupPack.dedupIncrementalIndexed(spark, d,
      tableOverride = t, locationOverride = l)),
    "q135" -> ((d, t, l) => DedupPack.dedupIncrementalStoredDf(spark, d,
      tableOverride = t, locationOverride = l))
  ).foreach { case (q, serve) =>
    test(s"$q marker⇒built: a partial build (cells, no sentinel) stays unmarked and rebuilds; a completed build serves marked") {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val tmp = java.nio.file.Files.createTempDirectory(s"${q}_partial").toString
      Tables.t(spark, dir, "documents").write.parquet(s"$tmp/documents.parquet")
      Tables.t(spark, dir, "lineitem").write.parquet(s"$tmp/lineitem.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      def marked(table: String) =
        graft.sources.KeyedStore.compactedVersions(spark, table).exists(_ <= 1)
      def oneRowPerCell(table: String) = {
        val raw = spark.table(table)
        raw.count() == raw.select("rowkey", "family", "qualifier").distinct().count()
      }
      val expected = rows(DedupPack.dedupIncremental(spark, tmp))
      assert(expected.nonEmpty, "fixture produced no cross-parity near-dup pairs")
      // complete build in store A — the donor for realistic partial cells
      val (tableA, tableB) = (s"${q}_partial_a", s"${q}_partial_b")
      assert(rows(serve(tmp, tableA, s"$tmp/storeA")) == expected)
      assert(marked(tableA), "a completed invocation must leave the store marked")
      assert(oneRowPerCell(tableA), "a built store must hold one row per cell")
      // store B: half of A's cells — the on-disk shape of a build that
      // died mid-write
      graft.sources.KeyedStore.create(spark, tableB, s"$tmp/storeB")
      graft.sources.KeyedStore.put(spark, tableB, spark.table(tableA)
        .where(pmod(xxhash64(col("rowkey")), lit(2)) === 0))
      assert(!marked(tableB), "a put must leave the store unmarked")
      assert(rows(serve(tmp, tableB, s"$tmp/storeB")) == expected,
        "a partial store must rebuild and serve the full result")
      assert(marked(tableB))
      assert(oneRowPerCell(tableB), "the rebuild must replace the partial cells, not add to them")
      assert(spark.table(tableB).count() == spark.table(tableA).count())
      assert(rows(serve(tmp, tableB, s"$tmp/storeB")) == expected,
        "the marked serve after a rebuild must match")
    }
  }

  test("q115 keep-list totals are consistent with the cluster labels") {
    val kl = DedupPack.dedupKeepList(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docsBySource = Tables.t(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kl.keySet == docsBySource.keySet)
    kl.foreach { case (src, (nDocs, nKept)) =>
      assert(nDocs == docsBySource(src))
      assert(nKept <= nDocs && nKept > 0)
    }
    // global: dropped docs == cluster members that are not their own label
    val labels = DedupPack.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val dropped = labels.count { case (doc, lab) => lab != doc }
    assert(kl.values.map { case (n, k) => n - k }.sum == dropped)
  }

  test("q124 LSH keep-list bounded by the exact q115 twin (missed-pair surplus)") {
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = asMap(DedupPack.dedupKeepList(spark, dir))
    val lsh = asMap(DedupPack.dedupKeepList(spark, dir, pairSource = "lsh"))
    assert(lsh.keySet == exact.keySet)
    lsh.foreach { case (src, (nDocs, nKept)) =>
      assert(nDocs == exact(src)._1, s"$src: doc totals must be identical")
      // LSH pairs are a SUBSET of exact pairs (candidate verification makes
      // precision exact), so LSH components only ever split, never merge:
      // the LSH keep-list can keep extra docs but never drop a kept one
      assert(nKept >= exact(src)._2, s"$src: LSH kept $nKept < exact ${exact(src)._2}")
    }
    // removing one edge splits at most one component in two — the global
    // surplus of kept docs is bounded by the number of pairs LSH missed
    val missed = exactPairs.size -
      DedupPack.dedupMinhashLsh(spark, dir, 0.5).count()
    val surplus = lsh.values.map(_._2).sum - exact.values.map(_._2).sum
    assert(surplus >= 0 && surplus <= missed,
      s"surplus=$surplus exceeds missed-pair bound $missed")
  }

  test("q116 semantic dedup: exact precision, nontrivial recall vs unblocked brute force") {
    val truth = cosineTruth
    val sem = DedupPack.dedupSemantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision exact: blocking only prunes, never fabricates — every
    // emitted pair is a true pair with the identical verified cosine
    sem.foreach { case (k, c) =>
      assert(truth.get(k).contains(c), s"false positive or cosine drift: $k -> $c")
    }
    // recall on the near-orthogonal fixture (both members of a cos-0.4
    // pair must argmax to the same trained cell); k-means is
    // deterministic, so this is a fixed number — bound set under the
    // measured value but high enough to catch broken cell assignment
    assert(truth.nonEmpty)
    val recall = sem.size.toDouble / truth.size
    assert(recall >= 0.3, s"recall=$recall (${sem.size}/${truth.size})")
  }

  test("exact dedup keeps one representative per distinct text") {
    val d = DedupPack.dedupExact(spark, dir).collect()
    val docs = Tables.t(spark, dir, "documents")
    assert(d.map(_.getLong(1)).sum == docs.count())
    assert(d.map(_.getLong(0)).distinct.length == d.length)
  }

  test("keep-list cluster join carries no broadcast hint — AQE decides") {
    // an unconditional broadcast of the near-dup member table is a driver
    // OOM at a real 100 TB dup rate; the join must ship hint-free
    val analyzed = DedupPack.dedupKeepList(spark, dir).queryExecution.analyzed
    assert(!analyzed.toString.contains("ResolvedHint"),
      s"keep-list join still hinted:\n$analyzed")
  }

  test("adaptive blocking geometry: identity at driver SFs, occupancy-pinned beyond") {
    // identity at every driver corpus (embeddings = 500/500/2000): the
    // calibrated 4-bit/8-cell geometry — golden pins and recall bounds
    // keep meaning
    for (n <- Seq(1L, 500L, 2000L)) {
      assert(DedupPack.autoLshRows(n) == 4, s"rows(n=$n)")
      assert(DedupPack.autoCells(n) == 8, s"cells(n=$n)")
    }
    // beyond: band width grows with log2(n) so expected bucket occupancy
    // n / 2^rows stays <= the 128 target; cells grow linearly at /256
    assert(DedupPack.autoLshRows(20000L) == 8)
    assert(DedupPack.autoCells(20000L) == 79)
    for (n <- Seq(20000L, 1000000L, 100000000L)) {
      val occ = n.toDouble / (1L << DedupPack.autoLshRows(n))
      assert(occ <= 128.0 || DedupPack.autoLshRows(n) == 16,
        s"occupancy $occ at n=$n escaped the target without hitting the clamp")
      assert(n.toDouble / DedupPack.autoCells(n) <= 257.0 ||
        DedupPack.autoCells(n) == 65536,
        s"cell occ at n=$n escaped the target without hitting the clamp")
    }
    // monotone: more data never coarsens the blocking
    val ns = Seq(100L, 1000L, 10000L, 100000L, 1000000L, 10000000L)
    assert(ns.map(DedupPack.autoLshRows(_)) == ns.map(DedupPack.autoLshRows(_)).sorted)
    assert(ns.map(n => DedupPack.autoCells(n)) == ns.map(n => DedupPack.autoCells(n)).sorted)
  }

  test("fuzzyPairs: deletion-variant blocking has perfect recall across all three edit kinds") {
    import spark.implicits._
    // every distance-1 relationship the blocking must find: substitution
    // (same length, same deletion position), insertion/deletion (cross
    // length, self-vs-deletion match), equality, plus true negatives at
    // distance 2 (substitute+insert) and unrelated strings
    val names = Seq(
      1L -> "kitten", 2L -> "mitten",   // substitution
      3L -> "kitten2",                  // insertion at the end vs 1
      4L -> "itten",                    // deletion at the front vs 1
      5L -> "kitten",                   // exact duplicate of 1
      6L -> "mittens",                  // dist 1 of 2/3... and 2 of 1
      7L -> "zebra").toDF("id", "name")
    val got = DedupPack.fuzzyPairs(names)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force oracle via Spark's own levenshtein on the cross join
    val a = names.select($"id".as("id1"), $"name".as("name1"))
    val b = names.select($"id".as("id2"), $"name".as("name2"))
    val want = a.crossJoin(b).filter($"id1" < $"id2")
      .filter(org.apache.spark.sql.functions.levenshtein($"name1", $"name2") <= 1)
      .select($"id1", $"id2",
        org.apache.spark.sql.functions.levenshtein($"name1", $"name2").as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(got == want)
    // the handcrafted set really exercises all three arms
    assert(want.contains((1L, 2L, 1)), "substitution pair missing from fixture")
    assert(want.contains((1L, 3L, 1)), "insertion pair missing from fixture")
    assert(want.contains((1L, 4L, 1)), "deletion pair missing from fixture")
    assert(want.contains((1L, 5L, 0)), "exact-duplicate pair missing from fixture")
    assert(!want.exists(p => p._1 == 7L || p._2 == 7L), "unrelated string must pair with nothing")
  }
}
