package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{KeyedStore, TsvIO}

/** FIXTURES.md B3: the four reference student rows (HBaseClient.java:83-118)
  * through the DDL → Put → versioned-read lifecycle.
  */
class KeyedStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cellRows = {
    import spark.implicits._
    // rowkey G20200579010831..34: tome/jerry/jack/phoenix with their scores
    Seq(
      ("G20200579010831", "name", "name", "tome", 1L),
      ("G20200579010831", "score", "understanding", "75", 1L),
      ("G20200579010831", "score", "programming", "82", 1L),
      ("G20200579010832", "name", "name", "jerry", 1L),
      ("G20200579010832", "score", "understanding", "85", 1L),
      ("G20200579010832", "score", "programming", "67", 1L),
      ("G20200579010833", "name", "name", "jack", 1L),
      ("G20200579010833", "score", "understanding", "80", 1L),
      ("G20200579010833", "score", "programming", "80", 1L),
      ("G20200579010834", "name", "name", "phoenix", 1L),
      ("G20200579010834", "score", "understanding", "90", 1L),
      ("G20200579010834", "score", "programming", "90", 1L),
      // out-of-prefix rowkey so the prefix filter is observable
      ("X9999", "name", "name", "other", 1L))
      .toDF("rowkey", "family", "qualifier", "value", "version")
  }

  private def extraVersions = {
    import spark.implicits._
    // 4 more versions of one cell: maxVersions(3) must keep 5,4,3 only
    (2L to 5L).map(v => ("G20200579010831", "score", "programming", s"v$v", v))
      .toSeq.toDF("rowkey", "family", "qualifier", "value", "version")
  }

  test("DDL + Put + versioned scan reproduce the hw3 lifecycle") {
    val loc = Files.createTempDirectory("keyed_store").toString
    val table = "graft_student_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    KeyedStore.create(spark, table, loc)
    KeyedStore.put(spark, table, cellRows)
    KeyedStore.put(spark, table, extraVersions)

    // point Get: newest value per qualifier of row ...31
    val got = KeyedStore.get(spark, table, "G20200579010831").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got(("name", "name")) == "tome")
    assert(got(("score", "programming")) == "v5") // newest version wins
    assert(got(("score", "understanding")) == "75")

    // maxVersions(3): the programming cell keeps versions 5,4,3
    val vers = KeyedStore.scan(spark, table)
      .filter("rowkey = 'G20200579010831' AND qualifier = 'programming'")
      .collect().map(_.getAs[Long]("version")).sorted
    assert(vers.toSeq == Seq(3L, 4L, 5L))

    // compaction: physical row count drops to the retained set, reads same
    val before = spark.table(table).count()
    KeyedStore.compact(spark, table)
    val after = spark.table(table).count()
    assert(after < before, s"compaction kept all $before rows")
    assert(KeyedStore.get(spark, table, "G20200579010831").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      .apply(("score", "programming")) == "v5")

    // prefix + reversed scan excludes X9999 and descends
    val scanned = KeyedStore.prefixScan(spark, table, "G202005790", reversed = true)
      .collect().map(_.getString(0))
    assert(!scanned.contains("X9999"))
    assert(scanned.toSeq == scanned.sorted(Ordering[String].reverse).toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("delete tombstones: mask at-or-below their version, survive re-put, GC on compact") {
    import spark.implicits._
    val loc = Files.createTempDirectory("keyed_store_del").toString
    val table = "graft_tombstone_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    KeyedStore.create(spark, table, loc)
    KeyedStore.put(spark, table, cellRows)
    KeyedStore.put(spark, table, extraVersions)

    // tombstone jerry's understanding score at version 1 (its only version)
    // and tome's programming cell at version 3 (masks 1..3, keeps 4,5)
    KeyedStore.delete(spark, table, Seq(
      ("G20200579010832", "score", "understanding", 1L),
      ("G20200579010831", "score", "programming", 3L))
      .toDF("rowkey", "family", "qualifier", "version"))

    val jerry = KeyedStore.get(spark, table, "G20200579010832").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!jerry.contains(("score", "understanding")), "tombstoned cell must vanish")
    assert(jerry.contains(("name", "name")), "sibling cells must be untouched")
    val progVers = KeyedStore.scan(spark, table)
      .filter("rowkey = 'G20200579010831' AND qualifier = 'programming'")
      .select("version").collect().map(_.getLong(0)).sorted.toSeq
    assert(progVers == Seq(4L, 5L), s"tombstone@3 must mask 1..3, got $progVers")

    // a later Put above the tombstone version is visible again
    KeyedStore.put(spark, table,
      Seq(("G20200579010832", "score", "understanding", "91", 7L))
        .toDF("rowkey", "family", "qualifier", "value", "version"))
    val revived = KeyedStore.get(spark, table, "G20200579010832").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(revived(("score", "understanding")) == "91")

    // major compaction drops masked versions AND the tombstones themselves
    KeyedStore.compact(spark, table)
    val raw = spark.table(table)
    assert(raw.filter("value IS NULL").count() == 0, "compact must GC tombstones")
    assert(raw.filter(
      "rowkey = 'G20200579010831' AND qualifier = 'programming' AND version <= 3")
      .count() == 0, "compact must drop masked versions")
    // and the logical view is unchanged by compaction
    assert(KeyedStore.get(spark, table, "G20200579010832").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      .apply(("score", "understanding")) == "91")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compaction marker gates the window-free scan and dies on the next write") {
    import spark.implicits._
    val loc = Files.createTempDirectory("keyed_store_marker").toString
    val table = "graft_marker_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // AQE off so the physical tree is inspectable (the AggSpec pattern —
    // AdaptiveSparkPlanExec hides its subtree from plan.collect)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    KeyedStore.create(spark, table, loc)
    KeyedStore.put(spark, table, cellRows)
    KeyedStore.put(spark, table, extraVersions)
    def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.nonEmpty
    // un-compacted: no marker, scans resolve through the ranking window
    assert(KeyedStore.compactedVersions(spark, table).isEmpty)
    assert(hasWindow(KeyedStore.scan(spark, table, maxVersions = 1)))
    val before = KeyedStore.scan(spark, table, maxVersions = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap

    // compact(1) writes the marker; a scan with budget ≥ marker is a plain
    // read (no WindowExec) with the identical resolved contents
    KeyedStore.compact(spark, table, maxVersions = 1)
    assert(KeyedStore.compactedVersions(spark, table).contains(1))
    val fast = KeyedStore.scan(spark, table, maxVersions = 1)
    assert(!hasWindow(fast), "marked store must scan without the window")
    val after = fast.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap
    assert(after == before, "fast path must serve the same resolved cells")

    // a smaller budget than the marker still resolves (3-version marker
    // cannot answer a newest-1 scan raw) — re-mark at 3 to prove it
    KeyedStore.put(spark, table,
      Seq(("G20200579010831", "score", "programming", "77", 9L))
        .toDF("rowkey", "family", "qualifier", "value", "version"))
    // the put invalidated the marker BEFORE appending (crash between the
    // two leaves a correct, merely-unmarked store)
    assert(KeyedStore.compactedVersions(spark, table).isEmpty,
      "any write must invalidate the marker")
    assert(hasWindow(KeyedStore.scan(spark, table, maxVersions = 1)))
    KeyedStore.compact(spark, table, maxVersions = 3)
    assert(KeyedStore.compactedVersions(spark, table).contains(3))
    assert(hasWindow(KeyedStore.scan(spark, table, maxVersions = 1)),
      "marker k=3 must NOT serve a newest-1 scan raw")
    assert(!hasWindow(KeyedStore.scan(spark, table, maxVersions = 3)))
    KeyedStore.compact(spark, table, maxVersions = 1)
    assert(KeyedStore.compactedVersions(spark, table).contains(1))
    assert(KeyedStore.scan(spark, table, maxVersions = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3))
      .toMap.apply(("G20200579010831", "score", "programming")) == "77")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("buildOnce: an unmarked store is overwritten and marked; a marked one is served as is") {
    import spark.implicits._
    val loc = Files.createTempDirectory("keyed_store_build").toString
    val table = "graft_build_once_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def cells(v: String) = Seq(("r1", "f", "q1", v), ("r1", "f", "q1", v), ("r2", "f", "q1", v))
      .toDF("rowkey", "family", "qualifier", "value")
    // a crash-shaped store: stray cells from an earlier attempt, unmarked
    KeyedStore.create(spark, table, loc)
    KeyedStore.put(spark, table, Seq(("r9", "f", "q1", "stale", 4L))
      .toDF("rowkey", "family", "qualifier", "value", "version"))
    def contents = KeyedStore.buildOnce(spark, table, loc)(cells("built")).collect()
      .map(r => (r.getString(0), r.getString(3), r.getLong(4))).sorted.toSeq
    // the build replaces the stray cells and resolves the duplicate r1 cell
    assert(contents == Seq(("r1", "built", 1L), ("r2", "built", 1L)))
    assert(KeyedStore.compactedVersions(spark, table).contains(1))
    // marked: the cells argument is never evaluated
    var evaluated = false
    KeyedStore.buildOnce(spark, table, loc) { evaluated = true; cells("rebuilt") }
    assert(!evaluated, "a marked store must be served, not rebuilt")
    assert(contents == Seq(("r1", "built", 1L), ("r2", "built", 1L)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("put rejects null values instead of writing silent tombstones") {
    import spark.implicits._
    val loc = Files.createTempDirectory("keyed_store_nullput").toString
    val table = "graft_nullput_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    KeyedStore.create(spark, table, loc)
    val bad = Seq(("r1", "f", "q", null: String, 1L))
      .toDF("rowkey", "family", "qualifier", "value", "version")
    val e = intercept[Exception] { KeyedStore.put(spark, table, bad) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("use delete() for tombstones")), s"got: ${msgs(e)}")
    assert(spark.table(table).count() == 0, "the failed put must not leave rows behind")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compact recovers from a simulated mid-swap crash without losing data") {
    import org.apache.hadoop.fs.Path
    val loc = Files.createTempDirectory("keyed_store_crash").toString
    val table = "graft_crash_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    KeyedStore.create(spark, table, loc)
    KeyedStore.put(spark, table, cellRows)
    val expected = KeyedStore.scan(spark, table).count()

    // simulate a crash between the two swap renames: live dir moved to
    // _old, nothing put back — the state the docstring promises is
    // recoverable (and where a naive retry used to delete the only copy)
    val locPath = new Path(loc)
    val fs = locPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(locPath.getParent, s".${locPath.getName}_compact_old")
    assert(fs.rename(locPath, old))
    assert(!fs.exists(locPath))

    KeyedStore.compact(spark, table)
    assert(KeyedStore.scan(spark, table).count() == expected,
      "compact retry after mid-swap crash lost rows")
    assert(!fs.exists(old))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("binary-value cells: byte[] fidelity incl. non-UTF8 bytes (HBaseClient Bytes parity)") {
    import spark.implicits._
    val loc = Files.createTempDirectory("keyed_store_bin").toString
    val table = "graft_student_cells_bin"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    KeyedStore.create(spark, table, loc, binaryValues = true)
    assert(spark.table(table).schema("value").dataType ==
      org.apache.spark.sql.types.BinaryType)

    // raw byte values: a UTF-8 string's bytes AND bytes that are NOT valid
    // UTF-8 (0xFF 0xFE ...) — a string-typed store would corrupt the latter
    val rawBytes = Array[Byte](-1, -2, 0, 127, -128)
    val binCells = Seq(
      ("G1", "name", "name", "tome".getBytes("UTF-8"), 1L),
      ("G1", "blob", "raw", rawBytes, 1L),
      ("G1", "blob", "raw", Array[Byte](1, 2, 3), 2L))
      .toDF("rowkey", "family", "qualifier", "value", "version")
    KeyedStore.put(spark, table, binCells)

    val got = KeyedStore.get(spark, table, "G1").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]]("value")).toMap
    assert(got(("name", "name")).sameElements("tome".getBytes("UTF-8")))
    assert(got(("blob", "raw")).sameElements(Array[Byte](1, 2, 3))) // newest version
    // all versions retained under maxVersions, bytes exact
    val vers = KeyedStore.scan(spark, table)
      .filter("qualifier = 'raw'").collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Array[Byte]]("value")).toMap
    assert(vers(1L).sameElements(rawBytes))

    // string Puts into a binary table store UTF-8 bytes (Bytes.toBytes)
    KeyedStore.put(spark, table, Seq(("G2", "name", "name", "héllo", 1L))
      .toDF("rowkey", "family", "qualifier", "value", "version"))
    val g2 = KeyedStore.get(spark, table, "G2").collect().head.getAs[Array[Byte]]("value")
    assert(g2.sameElements("héllo".getBytes("UTF-8")))

    // compaction preserves bytes exactly on the binary table too
    KeyedStore.compact(spark, table, maxVersions = 1)
    assert(spark.table(table).filter("qualifier = 'raw'").count() == 1)
    assert(KeyedStore.get(spark, table, "G1").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]]("value")).toMap
      .apply(("blob", "raw")).sameElements(Array[Byte](1, 2, 3)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("TSV write/read roundtrip (hw1 TextOutputFormat parity)") {
    import spark.implicits._
    val out = Files.createTempDirectory("tsv_out").resolve("data").toString
    val df = Seq(("13800000001", 15L, 27L, 42L), ("13900000002", 1L, 2L, 3L))
      .toDF("phone", "up", "down", "total")
    TsvIO.write(df, out)
    val back = TsvIO.read(spark, out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(back.toSet == Set(
      ("13800000001", "15", "27", "42"), ("13900000002", "1", "2", "3")))
  }
}
