package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventsPack
import graft.streaming.EventStreamJobs

/** Batch/stream equivalence: the streaming jobs must produce the same
  * results as their EventsPack batch twins on the same parquet.
  */
class EventStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = SparkTestSession.sfDir

  /** Exact row comparison — deliberately NO float tolerance. Both the
    * streamed and batch sides fold their value sums in decimal(18,6)
    * before the final double projection (EventStreamJobs claims
    * "stream == batch bit-for-bit"), so any difference here means one
    * side silently reverted to an order-sensitive raw double sum —
    * exactly the regression a tolerance would mask.
    */
  private def assertRowsAgree(got: Seq[org.apache.spark.sql.Row],
                              want: Seq[org.apache.spark.sql.Row]): Unit = {
    assert(got.size == want.size, s"row counts: ${got.size} vs ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), r) =>
      (0 until w.size).foreach { i =>
        assert(g.get(i) == w.get(i), s"row $r col $i: ${g.get(i)} vs ${w.get(i)}")
      }
    }
  }

  test("streaming tumbling window == batch tumbling window") {
    // stage the single events.parquet file into a watchable directory
    val watch = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      watch.resolve("part-0.parquet"))
    val stream = EventStreamJobs.readEvents(spark, watch.toString)
    val q = EventStreamJobs.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .orderBy(col("bucket_ms"), col("event_type")).collect().toSeq
      val want = EventsPack.tumbling(spark, dir).collect().toSeq
      assertRowsAgree(got, want)
    } finally q.stop()
  }

  test("stream-static enrichment join == the same function run in batch") {
    import spark.implicits._
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val watch = java.nio.file.Files.createTempDirectory("events_enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      watch.resolve("part-0.parquet"))
    val q = EventStreamJobs
      .enrichedCounts(EventStreamJobs.readEvents(spark, watch.toString), dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enriched_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .orderBy(col("bucket_ms"), col("category")).collect().toSeq
      val want = EventStreamJobs.enrichedCounts(Tables.events(spark, dir), dim)
        .orderBy(col("bucket_ms"), col("category")).collect().toSeq
      assertRowsAgree(got, want)
      assert(got.nonEmpty)
      // the unmapped types (signup/error) must land in the 'other' bucket
      assert(got.exists(_.getString(1) == "other"))
    } finally q.stop()
  }

  test("checkpoint restart: a new query on the same checkpoint resumes without reprocessing") {
    // the production restart contract: file-source offsets + file-sink
    // commit log give exactly-once across a stop/start — a restarted query
    // must pick up NEW files only, never re-emit what a prior run committed
    val watch = java.nio.file.Files.createTempDirectory("events_restart_src")
    val out = java.nio.file.Files.createTempDirectory("events_restart_out")
    val cp = java.nio.file.Files.createTempDirectory("events_restart_cp")
    def stage(name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), watch.resolve(name))
    def run(): Unit = {
      val q = EventStreamJobs.readEvents(spark, watch.toString)
        .select(col("event_id"), col("event_type"), col("ts"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    stage("f1.parquet")
    run()
    assert(spark.read.parquet(out.toString).count() == n)
    stage("f2.parquet") // arrives while no query is running
    run() // fresh query object, same checkpoint
    val after = spark.read.parquet(out.toString)
    assert(after.count() == 2 * n,
      s"restart must process exactly the new file: got ${after.count()}, want ${2 * n}")
    // every event id appears exactly twice (once per staged copy) — a
    // re-emitted first file would show up as >2 copies of some id
    val overCounted = after.groupBy(col("event_id"))
      .count().filter(col("count") =!= 2).count()
    assert(overCounted == 0)
  }

  test("watermark drops data later than the 1-hour bound in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreamJobs.tumblingCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out")
      .start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def batch(rows: (java.sql.Timestamp, String, Double)*): Unit = {
      input.addData(rows: _*); q.processAllAvailable()
    }
    try {
      // batch 1: events up to 12:05 -> watermark advances to 11:05
      batch((ts("2024-01-01 10:10:00"), "click", 1.0),
        (ts("2024-01-01 12:05:00"), "click", 1.0))
      // batch 2: the 9:30 event is behind the 11:05 watermark -> dropped;
      // the 11:30 event is within bound -> kept
      batch((ts("2024-01-01 09:30:00"), "click", 99.0),
        (ts("2024-01-01 11:30:00"), "click", 1.0))
      // two more batches: advance the watermark, then let the eviction pass
      // (which uses the PREVIOUS batch's watermark) emit closed windows
      batch((ts("2024-01-01 15:00:00"), "click", 1.0))
      batch((ts("2024-01-01 20:00:00"), "click", 1.0))
      val out = spark.table("late_out").collect()
        .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Long]("n")).toMap
      def hourMs(s: String) = ts(s).getTime
      assert(!out.contains(hourMs("2024-01-01 09:00:00")), s"late row not dropped: $out")
      assert(out(hourMs("2024-01-01 10:00:00")) == 1L)
      assert(out(hourMs("2024-01-01 11:00:00")) == 1L) // in-bound late row kept
      assert(out(hourMs("2024-01-01 12:00:00")) == 1L)
    } finally q.stop()
  }

  test("streaming dedup: watermarked dropDuplicates suppresses replays across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("ts", "fp")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("fp", "ts")
    val q = docs.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((ts("2024-01-01 10:00:00"), "docA"), (ts("2024-01-01 10:00:00"), "docB"))
      q.processAllAvailable()
      // replay of docA in a later batch (same fp+ts) must be suppressed by
      // the dedup state, which the watermark keeps bounded
      input.addData((ts("2024-01-01 10:00:00"), "docA"), (ts("2024-01-01 10:30:00"), "docC"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect().map(_.getString(1))
      assert(out.sorted.toSeq == Seq("docA", "docB", "docC"), out.mkString(","))
    } finally q.stop()
  }

  test("dedupStream: first arrival kept, in-watermark dups suppressed, state evicted after horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventStreamJobs.dedupStream(input.toDF().toDF("event_id", "ts", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def batch(rows: (Long, java.sql.Timestamp, Double)*): Unit = {
      input.addData(rows: _*); q.processAllAvailable()
    }
    def ids() = spark.table("dedup_wm_out").collect().map(_.getLong(0)).toSeq
    try {
      // same-batch duplicate of id 1 collapses; distinct keys pass through
      batch((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:05:00"), 2.0))
      assert(ids().sorted == Seq(1L, 2L))
      // cross-batch duplicate within the watermark horizon is suppressed —
      // note id 1's REPLAY has a different ts and value: the key alone
      // dedups, which plain dropDuplicates could only do with unbounded state
      batch((1L, ts("2024-01-01 10:10:00"), 9.0),
        (3L, ts("2024-01-01 10:15:00"), 3.0))
      assert(ids().sorted == Seq(1L, 2L, 3L))
      // advance the watermark past 10:00 + 1h — id 1's dedup state expires
      batch((99L, ts("2024-01-01 13:00:00"), 0.0))
      // the residual-risk contract: a duplicate arriving AFTER its key's
      // state expired is re-emitted (bounded state has to forget sometime)
      batch((1L, ts("2024-01-01 13:05:00"), 7.0))
      assert(ids().count(_ == 1L) == 2,
        s"post-eviction replay must re-emit: ${ids().mkString(",")}")
    } finally q.stop()
  }

  test("foreachBatch ingest: streaming events land in the keyed store as versioned cells") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("stream_ingest").toString
    val table = "graft_stream_cells"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    graft.sources.KeyedStore.create(spark, table, loc)

    // the production sink pattern: foreachBatch bridges a stream to any
    // batch writer — here each micro-batch appends cells (blind Put, LSM
    // style), version = micro-batch id, read path resolves newest-N.
    // Inside the closure the writer MUST use batch.sparkSession (the
    // micro-batch's session clone) — going through the outer session from
    // the streaming thread silently writes nothing.
    val input = MemoryStream[(String, String, Double)]
    val q = input.toDF().toDF("user", "event_type", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.sources.KeyedStore.put(batch.sparkSession, table,
          batch.select(col("user").as("rowkey"),
            lit("events").as("family"),
            col("event_type").as("qualifier"),
            col("value").cast("string").as("value"),
            lit(batchId).as("version")))
      }
      .start()
    try {
      input.addData(("u1", "click", 1.0), ("u2", "view", 2.0))
      q.processAllAvailable()
      input.addData(("u1", "click", 7.0)) // newer version of the same cell
      q.processAllAvailable()
      // Get resolves the newest version per cell across micro-batches
      val got = graft.sources.KeyedStore.get(spark, table, "u1").collect()
        .map(r => r.getString(1) -> r.getString(2)).toMap
      assert(got("click") == "7.0", s"newest version must win: $got")
      assert(graft.sources.KeyedStore.scan(spark, table)
        .filter("rowkey = 'u1' AND qualifier = 'click'").count() == 2)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("stream-stream interval join: purchases join errors within 30 minutes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(java.sql.Timestamp, Long)]
    val errors = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = EventStreamJobs.intervalJoin(
      purchases.toDF().toDF("l_ts", "user_id"),
      errors.toDF().toDF("r_ts", "r_user"),
      intervalMinutes = 30)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      errors.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 08:00:00"), 1L))
      purchases.addData((ts("2024-01-01 10:20:00"), 1L), (ts("2024-01-01 10:20:00"), 2L))
      q.processAllAvailable()
      // flush: advance both watermarks past the join range
      errors.addData((ts("2024-01-01 15:00:00"), 9L))
      purchases.addData((ts("2024-01-01 15:00:00"), 9L))
      q.processAllAvailable()
      val out = spark.table("ss_join_out")
        .select(col("user_id"), col("r_ts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
      // user 1's 10:00 error is within 30min of the 10:20 purchase; the
      // 08:00 error is not; user 2 has no errors at all
      assert(out.contains((1L, "2024-01-01 10:00:00.0")), s"missing join row: $out")
      assert(!out.exists(_._2 == "2024-01-01 08:00:00.0"), s"out-of-range joined: $out")
      assert(!out.exists(_._1 == 2L), s"user without errors joined: $out")
    } finally q.stop()
  }

  test("interval join boundary: ms-truncated event times match batch semantics on sub-ms data") {
    // q99/q148 compare epoch-MILLISECOND values; intervalJoin compares its
    // event-time columns at native µs precision (it must — eviction analysis
    // needs the raw watermarked columns in the band predicate). A purchase
    // at 10:00:00.0004 and a click at 09:00:00.0002 sit EXACTLY on the 1 h
    // band edge after ms-truncation (included) but 200 µs outside it raw
    // (excluded) — the divergence attributionStreamed closes by truncating
    // the staged columns themselves. Pin both directions.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val boundary = Seq(
      (ts("2024-01-01 10:00:00.0004"), ts("2024-01-01 09:00:00.0002")), // edge pair
      (ts("2024-01-01 12:00:00"), ts("2024-01-01 11:30:00")))           // mid-band control
    def run(truncate: Boolean, sink: String): Set[(Long, Long)] = {
      val purchases = MemoryStream[(java.sql.Timestamp, Long)]
      val clicks = MemoryStream[(java.sql.Timestamp, Long)]
      val msTs = (c: org.apache.spark.sql.Column) =>
        if (truncate) timestamp_millis(unix_millis(c)) else c
      val joined = EventStreamJobs.intervalJoin(
        purchases.toDF().select(msTs(col("_1")).as("l_ts"), col("_2").as("user_id")),
        clicks.toDF().select(msTs(col("_1")).as("r_ts"), col("_2").as("r_user")),
        intervalMinutes = 60)
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      try {
        boundary.zipWithIndex.foreach { case ((p, c), i) =>
          purchases.addData((p, i.toLong)); clicks.addData((c, i.toLong))
        }
        q.processAllAvailable()
        purchases.addData((ts("2024-01-01 20:00:00"), 99L))
        clicks.addData((ts("2024-01-01 20:00:00"), 99L))
        q.processAllAvailable()
        spark.table(sink).select(col("user_id"), col("r_user")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet - ((99L, 99L))
      } finally q.stop()
    }
    val truncated = run(truncate = true, "ivb_trunc")
    val raw = run(truncate = false, "ivb_raw")
    // ms-truncated (the q148 staging) matches the batch/oracle inclusion
    assert(truncated == Set((0L, 0L), (1L, 1L)),
      s"truncated join must include the ms-boundary pair: $truncated")
    // native precision excludes the edge pair — the documented divergence
    // that exists when a caller skips the truncation
    assert(raw == Set((1L, 1L)),
      s"raw-precision join must exclude the 200µs-outside pair: $raw")
  }

  test("update mode re-emits only windows a batch changed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStreamJobs.tumblingCounts(input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("update")
      .format("memory").queryName("update_out")
      .start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((ts("2024-01-01 10:10:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 1.0))
      q.processAllAvailable()
      val after1 = spark.table("update_out").collect()
      assert(after1.length == 1 && after1.head.getLong(2) == 2,
        "first batch must emit the one changed window with n=2")
      // second batch: touches the 10:00 window again AND opens 11:00 —
      // update mode emits exactly those two, not a full re-emit
      input.addData((ts("2024-01-01 10:40:00"), "click", 1.0),
        (ts("2024-01-01 11:05:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("update_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 3, s"sink must hold 1 + 2 emitted updates, got ${rows.toSeq}")
      val h10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val h11 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00").getTime
      assert(rows.count { case (b, t, n) => b == h10 && t == "click" && n == 3 } == 1)
      assert(rows.count { case (b, t, n) => b == h11 && t == "view" && n == 1 } == 1)
    } finally q.stop()
  }

  test("stateful streaming sessionization == batch sessionization") {
    import spark.implicits._
    val batch = EventsPack.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    // drive the stateful op in one batch through the same typed pipeline
    val events = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tsMs"))
      .as[EventStreamJobs.SessionEvent]
    val closed = EventStreamJobs.sessionizeStream(events, 30 * 60 * 1000L)
    // flatMapGroupsWithState on a batch Dataset runs the same state logic;
    // open sessions (one per user) are not emitted, so compare closed ones.
    val got = closed.collect()
      .map(o => (o.user_id, o.session_id, o.n_events, o.start_ms, o.end_ms)).toSet
    assert(got.subsetOf(batch))
    // every user's non-final session must be present
    val nUsers = events.select(col("user_id")).distinct().count()
    assert(got.size == batch.size - nUsers)
  }

  test("STREAMING session_window == batch sessionize (sessions close via watermark)") {
    import spark.implicits._
    val watch = java.nio.file.Files.createTempDirectory("events_sesswin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      watch.resolve("part-0.parquet"))
    val q = EventStreamJobs
      .sessionWindowCounts(EventStreamJobs.readEvents(spark, watch.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out")
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits sessions the watermark has passed; a far-
      // future sentinel event (user -1) in a second file closes them all.
      // The sentinel must be written in the SAME physical ts encoding as
      // the staged source files (raw-ns long era vs timestamp[us] era —
      // readEvents probed the dir once and pinned its schema to it).
      val farUs = (Tables.events(spark, dir).agg(max(unix_millis(col("ts"))))
        .head().getLong(0) + 365L * 24 * 3600 * 1000) * 1000L
      val probedTs = spark.read.parquet(watch.toString).schema("ts").dataType
      Seq((99999999L, farUs, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts",
          if (probedTs == org.apache.spark.sql.types.LongType)
            col("ts") * 1000L // epoch-ns long era
          else timestamp_micros(col("ts")).cast(probedTs))
        .write.parquet(watch.resolve("late").toString)
      java.nio.file.Files.list(watch.resolve("late")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, watch.resolve("part-1.parquet"))
      }
      q.processAllAvailable()
      val got = spark.table("sesswin_out")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = EventsPack.sessionize(spark, dir)
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("built-in session_window == batch sessionize (closes the 3-way triangle)") {
    // q57 (lag + running sum) ≡ q120 (native session_window) row-for-row;
    // with the custom-state leg above this pins batch ≡ stream ≡
    // session_window
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(rows(EventsPack.sessionWindowNative(spark, dir)) ==
      rows(EventsPack.sessionize(spark, dir)))
    // and the plan claim holds: the session core is ONE merged-window
    // aggregate, not q57's lag-window + running-sum-window pair (q120's
    // only Window node is the tiny post-agg ordinal numbering)
    val p120 = EventsPack.sessionWindowNative(spark, dir)
      .queryExecution.optimizedPlan.toString
    val p57 = EventsPack.sessionize(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(p120.contains("session_window"))
    def windows(p: String) = "\\bWindow \\[".r.findAllIn(p).size
    assert(windows(p120) == 1 && windows(p57) == 2,
      s"window-node counts moved: q120=${windows(p120)} q57=${windows(p57)}")
  }

  test("session boundary: sub-ms gap just past 30min merges on the ms grid in all forms") {
    // q57 and the oracle decide "new session" on epoch-ms arithmetic; the
    // session_window forms (q120 batch, q141's streaming aggregate) would
    // decide on raw µs unless their input is ms-truncated. Two events
    // whose raw gap is 30min + 500µs but whose ms-floored gap is exactly
    // 30min must land in ONE session everywhere — a split here would be
    // invisible on round-ms fixtures and flip red on any regen that lands
    // a per-user gap inside (30min, 30min+1ms).
    val base = 1704103200_000_000L // 2024-01-01 10:00:00 UTC in µs
    val evDir = java.nio.file.Files.createTempDirectory("graft_subms").toString
    spark.createDataFrame(Seq(
        (1L, base + 400L, 7L, "view", 0.0, "{}"),
        (2L, base + 1_800_000_900L, 7L, "view", 0.0, "{}")))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$evDir/events.parquet")
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = sessions(EventsPack.sessionize(spark, evDir))
    assert(want == Set((7L, base / 1000, base / 1000 + 1_800_000L, 2L)),
      s"q57 ms-grid ground truth: $want")
    assert(sessions(EventsPack.sessionWindowNative(spark, evDir)) == want,
      "q120's session_window must merge the sub-ms boundary gap like q57")
    // the streaming aggregate shape, driven in batch (watermark is a
    // no-op there; the session_window merge logic is identical)
    assert(sessions(EventStreamJobs.sessionWindowCounts(
        graft.Tables.events(spark, evDir))) == want,
      "q141's streaming session_window shape must merge it too")
  }

  test("timeout sessionization: idle user's open session closes via watermark alone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import EventStreamJobs.{SessionEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val gapMs = 30 * 60 * 1000L
    val out = EventStreamJobs.sessionizeStreamTimeout(input.toDS(), gapMs)
    val q = out.writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      input.addData(SessionEvent(1L, 10L, t0), SessionEvent(1L, 11L, t0 + 10 * 60 * 1000L))
      q.processAllAvailable()
      // gap not exceeded, watermark behind the deadline: session stays open
      assert(spark.table("sess_timeout").count() == 0)
      // a much-later event from a DIFFERENT user moves the watermark…
      input.addData(SessionEvent(2L, 20L, t0 + 2 * 60 * 60 * 1000L))
      q.processAllAvailable()
      // …which applies in the NEXT micro-batch, firing user 1's timeout
      // with no further user-1 events — the close NoTimeout can never do
      input.addData(SessionEvent(2L, 21L, t0 + 2 * 60 * 60 * 1000L + 1000L))
      q.processAllAvailable()
      val rows = spark.table("sess_timeout").as[SessionOut].collect()
      assert(rows.toSeq == Seq(SessionOut(1L, 1L, 2L, t0, t0 + 10 * 60 * 1000L)),
        s"got ${rows.toSeq}")
      // user 2's session is still open: its deadline is past the watermark
      assert(!rows.exists(_.user_id == 2L))
    } finally q.stop()
  }

  test("streaming ingest dedup: corpus dups and in-stream repeats both rejected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.streaming.CorpusStreamJobs.corpusHashIndex(
      Tables.t(spark, dir, "documents"))
    val knownText = Tables.t(spark, dir, "documents")
      .select(col("text")).head().getString(0)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = new java.sql.Timestamp(1700000000000L)
    val out = graft.streaming.CorpusStreamJobs.ingestDedup(
      input.toDF().toDF("doc_id", "text", "ts"), corpus)
    val q = out.writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1000L, knownText, t0),          // dup of the existing corpus → drop
        (1001L, "a genuinely new doc", t0), // new → keep
        (1002L, "another new doc", t0))  // new → keep
      q.processAllAvailable()
      input.addData(
        (1003L, "a genuinely new doc", t0)) // in-stream repeat → drop
      q.processAllAvailable()
      val kept = spark.table("ingest_dedup").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1001L, 1002L), s"got $kept")
    } finally q.stop()
  }

  test("ingest dedup on a batch frame keeps the same texts as the stream") {
    import spark.implicits._
    // the scaladoc's claim that ingestDedup "works identically on a batch
    // frame": the watermark is a no-op and dropDuplicatesWithinWatermark
    // degrades to dropDuplicates. Equivalence is on the SET OF SURVIVING
    // TEXTS — batch dropDuplicates keeps an arbitrary row per key, so
    // which doc_id represents a repeated text is a streaming-only
    // (first-arrival) guarantee.
    val docs = Tables.t(spark, dir, "documents")
    val corpus = graft.streaming.CorpusStreamJobs.corpusHashIndex(docs)
    val knownText = docs.select(col("text")).head().getString(0)
    val t0 = new java.sql.Timestamp(1700000000000L)
    val batchIn = Seq(
      (1000L, knownText, t0),             // dup of the existing corpus → drop
      (1001L, "a genuinely new doc", t0), // new → keep
      (1002L, "another new doc", t0),     // new → keep
      (1003L, "a genuinely new doc", t0)) // repeat within the frame → drop
      .toDF("doc_id", "text", "ts")
    val kept = graft.streaming.CorpusStreamJobs.ingestDedup(batchIn, corpus)
      .select(col("text")).collect().map(_.getString(0)).toSet
    assert(kept == Set("a genuinely new doc", "another new doc"), s"got $kept")
  }

  test("staged: NoSig re-stages on every call, one dir per site") {
    // "file:$dir" is a valid Spark URI but not statable by java.nio →
    // tableSig degrades to NoSig, which the memo never serves
    val uriDir = s"file:$dir"
    assert(Tables.tableSig(s"$uriDir/events.parquet") == Tables.NoSig)
    var stages = 0
    // mkdirs fails if the site's previous dir was not deleted first
    def stage(to: String): Int = {
      assert(new java.io.File(to).mkdirs(), s"stage mkdirs $to")
      stages += 1
      stages
    }
    val s1 = EventStreamJobs.staged(spark, "litterspec", uriDir)(stage)
    val s2 = EventStreamJobs.staged(spark, "litterspec", uriDir)(stage)
    assert(s1.result == 1 && s2.result == 2, "NoSig must re-stage on every call, never reuse")
    assert(new java.io.File(s2.dir).exists, "the current call's dir must survive")
    val residual = new java.io.File(s"${Tables.scratchDir(spark)}/watch_cache")
      .listFiles.map(_.getName).filter(_.startsWith("litterspec-"))
    assert(residual.length == 1, s"expected 1 staged dir for the site, got ${residual.toSeq}")
    // a statable table is staged once per session
    val r1 = EventStreamJobs.staged(spark, "stagedonce", dir)(stage)
    val r2 = EventStreamJobs.staged(spark, "stagedonce", dir)(stage)
    assert(r1 == r2 && stages == 3, s"a statable table must stage once, staged ${stages - 2}")
  }

  test("q136 runs a real multi-batch StreamingQuery and matches the batch tumbling counts") {
    import org.apache.spark.sql.functions.col
    val (q, df) = EventStreamJobs.tumblingCountsStreamed(spark, dir)
    // the registered query must not be a batch job in streaming clothes:
    // a StreamingQuery executed, and maxFilesPerTrigger=1 over the 2-file
    // stage makes it provably INCREMENTAL (≥2 micro-batches consumed rows)
    val withRows = q.recentProgress.count(_.numInputRows > 0)
    assert(withRows >= 2,
      s"expected >=2 micro-batches with input rows, got $withRows")
    val streamed = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.operators.EventsPack.tumbling(spark, dir)
      .select(col("bucket_ms"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("q141 runs a real multi-batch StreamingQuery and matches batch sessionization") {
    import org.apache.spark.sql.functions.col
    val (q, df) = EventStreamJobs.sessionsStreamed(spark, dir)
    // data batch(es) before the sentinel batch: >=2 micro-batches consumed
    // rows, so append-mode emission really crossed a watermark advance
    val withRows = q.recentProgress.count(_.numInputRows > 0)
    assert(withRows >= 2,
      s"expected >=2 micro-batches with input rows, got $withRows")
    val streamed = df
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventsPack.sessionize(spark, dir)
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("q141 with an ODD staged file count still emits (sentinel shares the final trigger)") {
    import org.apache.spark.sql.functions.col
    // 3 data files + sentinel at maxFilesPerTrigger=2: the mtime-bumped
    // sentinel shares the last trigger with the final data file, so the
    // emission batch is ⌊3/2⌋+1 = 2 — the old ⌈dataFiles/2⌉+1 arithmetic
    // computed 3 and routed the ONLY real emission to the noop sink,
    // returning a silently empty result (round-12 advice, medium)
    val (q, df) = EventStreamJobs.sessionsStreamed(spark, dir, stageFiles = 3)
    val withRows = q.recentProgress.count(_.numInputRows > 0)
    assert(withRows >= 2,
      s"expected >=2 micro-batches with input rows, got $withRows")
    val streamed = df
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventsPack.sessionize(spark, dir)
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("q141 with ONE staged file (sentinel shares batch 0) still emits correctly") {
    import org.apache.spark.sql.functions.col
    // degenerate arm of the sentinel arithmetic: 1 data file + sentinel
    // both fit the first trigger, so the emission batch is ⌊1/2⌋+1 = 1 —
    // the engine's final no-data batch. Only result equality is asserted
    // (a single row-bearing batch is the point of this shape)
    val (_, df) = EventStreamJobs.sessionsStreamed(spark, dir, stageFiles = 1)
    val streamed = df
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventsPack.sessionize(spark, dir)
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("q148 runs a real multi-batch stream-stream join and matches batch attribution") {
    import org.apache.spark.sql.functions.col
    val (q, df) = EventStreamJobs.attributionStreamed(spark, dir)
    val withRows = q.recentProgress.count(_.numInputRows > 0)
    assert(withRows >= 2,
      s"expected >=2 micro-batches with input rows, got $withRows")
    val streamed = df
      .select(col("purchase_id"), col("click_id"), col("user_id"), col("gap_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventsPack.clickAttribution(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("transformWithState sessionization matches the flatMapGroupsWithState path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import EventStreamJobs.{SessionEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[SessionEvent]
    val gapMs = 30 * 60 * 1000L
    val q = EventStreamJobs.sessionizeTws(input.toDS(), gapMs)
      .writeStream.format("memory").queryName("sess_tws")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      val hr = 60 * 60 * 1000L
      // same script as the fMGWS tombstone test: session 1 closed by the
      // watermark, the user returns, a gap-closed pair follows
      input.addData(SessionEvent(1L, 10L, t0), SessionEvent(1L, 11L, t0 + 10 * 60 * 1000L))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 20L, t0 + 2 * hr))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 21L, t0 + 2 * hr + 1000L))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 12L, t0 + 4 * hr))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 13L, t0 + 6 * hr))
      q.processAllAvailable()
      val u1 = spark.table("sess_tws").as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.session_id).toSeq
      // numbering continues across the watermark close (tombstone), and
      // both the timer close (session 1) and the gap close (session 2)
      // emit — identical to what sessionizeStreamTimeout produces
      assert(u1 == Seq(
        SessionOut(1L, 1L, 2L, t0, t0 + 10 * 60 * 1000L),
        SessionOut(1L, 2L, 1L, t0 + 4 * hr, t0 + 4 * hr)), s"got $u1")
    } finally {
      q.stop()
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("timeout sessionization: session numbering survives a watermark close") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import EventStreamJobs.{SessionEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val gapMs = 30 * 60 * 1000L
    val out = EventStreamJobs.sessionizeStreamTimeout(input.toDS(), gapMs)
    val q = out.writeStream.format("memory").queryName("sess_renumber")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      val hr = 60 * 60 * 1000L
      // session 1 for user 1, closed by the watermark (user 2 advances it)
      input.addData(SessionEvent(1L, 10L, t0))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 20L, t0 + 2 * hr))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 21L, t0 + 2 * hr + 1000L))
      q.processAllAvailable()
      assert(spark.table("sess_renumber").as[SessionOut].collect()
        .toSeq == Seq(SessionOut(1L, 1L, 1L, t0, t0)))
      // user 1 RETURNS after the close: a gap-closed pair of sessions —
      // numbering must continue at 2 (tombstone kept the counter), not
      // restart at 1, so (user_id, session_id) stays unique stream-wide
      input.addData(SessionEvent(1L, 11L, t0 + 3 * hr))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 12L, t0 + 5 * hr))
      q.processAllAvailable()
      val u1 = spark.table("sess_renumber").as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.session_id).toSeq
      assert(u1 == Seq(
        SessionOut(1L, 1L, 1L, t0, t0),
        SessionOut(1L, 2L, 1L, t0 + 3 * hr, t0 + 3 * hr)), s"got $u1")
    } finally q.stop()
  }
}
