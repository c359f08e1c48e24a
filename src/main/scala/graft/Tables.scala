package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders + shared derived views over the driver testdata
  * (`TESTDATA.md`, `FIXTURES.md`).
  *
  * Every pack reads parquet through [[Tables.t]] so that filter/column
  * pushdown reaches the scan uniformly; derived views (the hw5 `student`
  * table, the hw3 wide-column `cells` table) are defined ONCE here, in both
  * Spark and ANSI-SQL (DuckDB) form, so the oracle sees byte-identical
  * derivations.
  */
object Tables {

  /** (dir mtime, part-file count, total part bytes) of a table. */
  private[graft] type Sig = (Long, Long, Long)

  /** One memo for every value derived from tables: the relations of [[t]],
    * the row-group counts behind [[widened]], [[tableCount]], the
    * operator packs' k-means/PCA models and near-dup cluster index, and the
    * streaming replays' staged input. An entry is keyed by (session, key)
    * and stores the [[tableSig]] of each table it was computed from. It is
    * served only while those signatures all still match ([[NoSig]] never
    * matches), replaced in place on a mismatch, so a rewritten table is
    * recomputed and never grows the memo, and swept once its session's
    * SparkContext has stopped, so a process that cycles sessions (the test
    * suite) does not pin dead ones.
    *
    * Why memoize the relation at all: a bare `spark.read.parquet` re-lists
    * the directory and re-reads the parquet footer for the schema on EVERY
    * call — across 139 queries × several tables × repeated bench passes
    * that relation-resolution latency is a measurable slice of a
    * driver-latency-bound suite (single cold pass: 130 → 123 s).
    *
    * Why the signature, not mtime alone: directory mtime granularity is
    * filesystem-dependent (1 s on some filesystems), and a fixture
    * rewritten within the same tick — DedupSpec regenerates
    * `documents.parquet` mid-test, fast — would otherwise silently serve
    * the deleted part files. Mutable KeyedStore tables go through the
    * catalog, never through this.
    *
    * Each entry computes at most once: the value is a lazy val of the
    * entry, forced outside the map's bin lock, so a compute may itself go
    * through the memo (a cluster index reads `documents` through [[t]]).
    */
  private final class Entry(val sigs: Seq[Sig], compute: () => Any) {
    lazy val value: Any = { misses.incrementAndGet(); compute() }
  }

  private val memoMap =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Entry]()

  private val misses = new java.util.concurrent.atomic.AtomicLong()

  /** `compute`'s value, memoized per (session, `key`) while every table
    * signature in `sigs` still matches.
    */
  private[graft] def memo[A](spark: SparkSession, key: Any, sigs: Seq[Sig])(
      compute: => A): A = {
    val k = (spark, key)
    val fresh = !sigs.contains(NoSig)
    val hit = memoMap.get(k)
    val entry =
      if (hit != null && fresh && hit.sigs == sigs) hit
      else {
        memoMap.forEachKey(Long.MaxValue, dead =>
          if (dead._1.sparkContext.isStopped) memoMap.remove(dead))
        memoMap.compute(k, (_, old) =>
          if (old != null && fresh && old.sigs == sigs) old
          else new Entry(sigs, () => compute))
      }
    entry.value.asInstanceOf[A]
  }

  /** Memo computes since the process started (a run's misses are the
    * difference of two reads).
    */
  private[graft] def memoMisses: Long = misses.get

  /** Test hook: current live memo entry count (growth-bound specs). */
  private[graft] def tCacheSize: Int = memoMap.size()

  /** Sentinel signature for a path [[tableSig]] cannot stat. Never equal
    * to a memoized signature (the tuple itself compares equal to itself,
    * which round 13 shipped as a permanent stale serve for non-statable
    * paths), so such paths degrade to one recompute per call.
    */
  private[graft] val NoSig: Sig = (-1L, -1L, -1L)

  /** (dir mtime, part-file count, total part bytes) of the table at
    * `path`, from one driver-local listing (microseconds for the ≤ dozens
    * of files a local table holds); [[NoSig]] when not locally statable
    * (read.parquet will surface the real error, or — object store — the
    * path is outside the memo's local-fixture use case and the
    * never-matching sentinel means at worst one recompute per call, never
    * a stale serve).
    */
  private[graft] def tableSig(path: String): Sig =
    try {
      val p = java.nio.file.Paths.get(path)
      val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (!java.nio.file.Files.isDirectory(p))
        (mtime, 1L, java.nio.file.Files.size(p))
      else {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          var n = 0L; var bytes = 0L
          s.iterator().asScala.foreach { f =>
            if (java.nio.file.Files.isRegularFile(f)) {
              n += 1; bytes += java.nio.file.Files.size(f)
            }
          }
          (mtime, n, bytes)
        } finally s.close()
      }
    } catch { case _: Throwable => NoSig }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relation(spark, path, tableSig(path))
  }

  private def relation(spark: SparkSession, path: String, sig: Sig): DataFrame =
    memo(spark, ("relation", path), Seq(sig))(spark.read.parquet(path))

  /** Fan-out cap for [[widened]] — deliberately derived from the DATA
    * (bytes, clamped), never from `defaultParallelism`: the partition
    * count participates in downstream shuffle/fold geometry, and keying it
    * to the core count would make query output bit-sensitive to the
    * machine it ran on (the CPUS=4 vs 32 cross-core determinism
    * invariant). 32 matches the bench slot count; on a larger cluster the
    * row-group gate below means this value is never consulted for at-scale
    * tables.
    */
  val WidenParts = 32

  /** Data-proportional fan-out: one partition per ~96 KB of table bytes,
    * clamped to [4, WidenParts]. Measured trade at bench SF: a fixed
    * 32-way fan-out cut the serialized hot stages fine but added ~100 ms
    * of per-task fixed CPU × 32 tasks × several stages to EVERY consumer —
    * queries whose serialized leaf was already sub-second lost more to
    * task overhead than they gained in parallelism (q134 taskTime
    * 0.2 → 6.5 s for zero wall win). Bytes-derived counts keep the win
    * where the work is (multi-second pair/tokenize stages) at a fraction
    * of the overhead, and stay deterministic per dataset.
    */
  private def widenParts(bytes: Long): Int =
    math.max(4L, math.min(WidenParts.toLong, bytes / (96L << 10))).toInt

  /** Upper bound on the scan-stage parallelism of the parquet at `path`:
    * parquet only splits at row-group boundaries, so a table stored as few
    * single-row-group files runs its leaf stage on that many tasks no
    * matter how small `spark.sql.files.maxPartitionBytes` is tuned — the
    * extra splits exist but carry zero rows (measured: q116's whole
    * 926k-pair cosine stage on ONE task of four). Counts files first and
    * short-circuits at `cap`, so a cluster-scale table costs one listing
    * and never reads footers; only a small listing (< cap files) pays one
    * footer read per file ([[widened]] memoizes the result).
    */
  private[graft] def leafParallelismAtMost(
      spark: SparkSession, path: String, cap: Int): Int = {
    val p = java.nio.file.Paths.get(path)
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        } finally s.close()
      } else if (java.nio.file.Files.isRegularFile(p)) Seq(p)
      else return cap // not local-listable (object store) — assume wide
    if (files.size >= cap) return cap
    files.iterator.map { f =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.size finally r.close()
      } catch { case _: Throwable => 1 }
    }.sum.min(cap)
  }

  /** [[t]] with a PARALLELISM FLOOR for CPU-dense pipelines: when the
    * table's physical layout caps the scan below [[WidenParts]] tasks
    * (bench-SF tables are single-row-group files — every downstream
    * map/join runs single-threaded), hash-rebalance on `key` so the
    * expensive per-row work (tokenize, shingle, cosine) spreads across
    * slots. At production scale the row-group/file count exceeds the cap
    * and this is IDENTICAL to [[t]] — no exchange is added to a plan that
    * already has scan parallelism; the exchange that is added at bench SF
    * moves a sub-MB table once.
    *
    * Only for call sites whose downstream is partitioning-insensitive
    * (per-row compute, integer/min-max aggregation, exact dedup + sort) —
    * a float SUM folded in partition order would become geometry-dependent.
    * Each caller documents that argument at its use site.
    *
    * MEASURED NEGATIVE — do not extend this to cheap-scan tables: widening
    * lineitem (all integer-exact aggregates) and events (decimal-exact)
    * was tried and REVERTED in round 12 — the suite went 80.6 → 83.3 s
    * clean-gated. The floor only pays where the serialized stage carries
    * ≥ ~1 s of real per-row CPU (pair joins, tokenize/shingle); for
    * sub-second scan+agg leaves the added exchange plus ~100 ms of fixed
    * CPU per extra task outweighs the parallelism (q31/q33/q34/q43/q01
    * each lost 0.25-0.35 s; approx_percentile's sketch is additionally
    * geometry-SENSITIVE and its golden pin moved). docs/embs/customer are
    * the profiled set where it wins. A TARGETED variant was also measured
    * and rejected: widening lineitem only inside the two exact-percentile
    * histogram builds (q85/q105, the largest remaining ~0.7 s serialized
    * scans) moved their warm medians just −0.12/−0.05 s — inside the
    * ±0.3 s suite noise band — while TRIPLING task time (q85 6.2→17 s);
    * the per-task fixed cost eats sub-second serialized stages even when
    * the exchange itself is cheap.
    */
  def widened(spark: SparkSession, dir: String, name: String, key: String)
      : DataFrame = {
    val path = s"$dir/$name.parquet"
    val sig = tableSig(path)
    val df = relation(spark, path, sig)
    // NoSig's -1 bytes clamp to the 4-way floor; `parts` is a function of
    // the signature, so the row-group memo needs no cap in its key
    val parts = widenParts(sig._3)
    // missing key column → identity: specs drive some packs with
    // degenerate fixtures (a table of just the measure columns), and a
    // parallelism floor is an optimization, never a requirement
    if (!df.columns.contains(key)) df
    else if (memo(spark, ("rowGroups", path), Seq(sig))(
        leafParallelismAtMost(spark, path, parts)) >= parts) df
    else df.repartition(parts, col(key))
  }

  /** `documents` behind the [[widened]] floor: every consumer runs
    * CPU-dense per-row work (tokenize, shingle, hash, regex) directly
    * above the scan, and the downstream reductions are integer counts,
    * min/max, exact dedup, or already order-canonicalized sums — the
    * partitioning-insensitivity [[widened]] requires. Keyed on `doc_id`
    * (unique → even spread).
    */
  def docs(spark: SparkSession, dir: String): DataFrame =
    widened(spark, dir, "documents", "doc_id")

  /** `embeddings` behind the [[widened]] floor: consumers compute
    * per-row/per-pair dot products and banded signatures above the scan
    * (partitioning-insensitive per-row math; k-means/PCA TRAINING does not
    * use this — it fixes its own fold geometry, see kmeansTrain). Keyed on
    * `vec_id`.
    */
  def embs(spark: SparkSession, dir: String): DataFrame =
    widened(spark, dir, "embeddings", "vec_id")

  /** SF fingerprint both engines can compute from the registered tables:
    * the lineitem row count (6e3/6e4/6e5 across the driver's SF dirs —
    * distinct where the documents/embeddings counts collide at 500/500).
    * Keys artifacts that persist across invocations at different scale
    * factors (model dumps, stored indexes) so runs never cross-pollute.
    */
  def sfTag(spark: SparkSession, dir: String): Long =
    tableCount(spark, dir, "lineitem")

  /** `t(dir, name).count()`, memoized: the counts sit on hot paths — the
    * SF tag on every store-keyed query (k-means/PCA dumps, dedup indexes)
    * and the LSH/IVF auto-sizing on the embedding queries. Uncached, each
    * call was a full count job.
    */
  def tableCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    val sig = tableSig(path)
    memo(spark, ("count", path), Seq(sig))(relation(spark, path, sig).count())
  }

  /** Scratch root for artifacts a query persists AND its DuckDB oracle
    * reads back (model dumps, stored indexes). Verify points this at a
    * directory under its own out_dir (so the oracle check is hermetic —
    * build and check share one tree, nothing depends on a /tmp surviving
    * between processes); everywhere else the /tmp default applies. Oracle
    * SQL never embeds the absolute path: it writes [[AuxPlaceholder]] and
    * Verify substitutes the real root when dumping oracle_sql.json.
    */
  def oracleAuxDir(spark: SparkSession): String =
    spark.conf.get("spark.graft.oracle.auxDir", "/tmp/graft_oracle_aux")

  /** Token oracle SQL uses in place of the aux root (see [[oracleAuxDir]]). */
  val AuxPlaceholder = "__GRAFT_AUX__"

  /** Scratch root for intra-process working state the oracle never reads
    * (streaming watch dirs, checkpoints). Deliberately SEPARATE from
    * [[oracleAuxDir]]: the aux tree is parquet-globbed wholesale by the
    * driver's check, so only clean parquet dumps may live there.
    *
    * The default is salted with the Spark application id: streaming jobs
    * start by `fs.delete(scratch)`-ing their watch dirs, so two concurrent
    * sessions (e.g. a bench run next to a test run) sharing one fixed /tmp
    * path would delete each other's checkpoints mid-query. An explicit
    * `spark.graft.scratchDir` override is taken verbatim (the caller owns
    * isolation then). Verify deliberately does NOT override it: its
    * outDir must stay pure parquet dumps for the driver's check
    * (streaming checkpoint litter under a dumped tree crashed the round-7
    * aux verification), and the app-id-salted default is already
    * per-session; Verify overrides only `spark.graft.oracle.auxDir`.
    *
    * App-id salting means every session mints a fresh tree that streaming
    * jobs only partially clean (each deletes its own watch subdirs at
    * start) — unbounded /tmp growth across bench/test/profile sessions on
    * a long-lived host. So the first default-path call per application
    * (a) writes
    * a `.pid` marker into THIS session's tree and registers a shutdown
    * hook deleting the tree, and (b) sweeps sibling app-id dirs whose
    * owning process is DEAD (`.pid` names a pid absent from /proc) or —
    * for pre-marker trees with no `.pid` — untouched for a day. Liveness,
    * not just age: an mtime-only sweep would delete the checkpoints of a
    * long-idle but still-running session mid-query. Both apply to the
    * default root only — an explicit override is the caller's to manage.
    *
    * Arming is per APPLICATION id, not per JVM: a second SparkContext in
    * the same process gets a fresh app id, and a JVM-global latch would
    * leave its tree unmarked (no `.pid`, no shutdown hook) — the sweep
    * would then age-delete it while its owner is still alive, and nothing
    * would clean it at exit.
    */
  def scratchDir(spark: SparkSession): String = {
    val explicit = spark.conf.getOption("spark.graft.scratchDir")
    explicit.getOrElse {
      val root = new java.io.File("/tmp/graft_scratch")
      val mine = new java.io.File(root, spark.sparkContext.applicationId)
      if (scratchArmedApps.add(mine.getName)) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(mine)))
        try {
          mine.mkdirs()
          java.nio.file.Files.writeString(
            new java.io.File(mine, ".pid").toPath,
            ProcessHandle.current().pid().toString)
        } catch { case e: Throwable =>
          // best-effort, but never SILENT: without the marker this tree
          // degrades to the 24h-mtime sweep — a sibling session could
          // then delete a still-running session's checkpoints
          System.err.println(
            s"[graft] scratch .pid marker write failed for $mine " +
              s"(tree falls back to age-based sweep): $e")
        }
        val cutoff = System.currentTimeMillis - 24L * 3600 * 1000
        Option(root.listFiles).getOrElse(Array.empty)
          .filter(d => d.isDirectory && d.getName != mine.getName
            && scratchOwnerDead(d, cutoff))
          .foreach(deleteTree)
      }
      mine.getPath
    }
  }

  /** True when a sibling scratch tree is safe to sweep: its `.pid` marker
    * names a process no longer alive, or (legacy tree without a marker)
    * it has been untouched past the cutoff.
    */
  private[graft] def scratchOwnerDead(d: java.io.File, cutoff: Long): Boolean = {
    val marker = new java.io.File(d, ".pid")
    if (marker.isFile) {
      try {
        val pid = java.nio.file.Files.readString(marker.toPath).trim.toLong
        ProcessHandle.of(pid).map[java.lang.Boolean](h => !h.isAlive)
          .orElse(true)
      } catch { case _: Throwable => d.lastModified < cutoff }
    } else d.lastModified < cutoff
  }

  private val scratchArmedApps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Recursive delete that NEVER follows symlinks: the scratch root lives
    * in world-writable /tmp, so a link planted inside a dead session's
    * tree (e.g. `link -> /root/repo`) must be unlinked, not traversed —
    * `File.isDirectory` resolves links and would recurse into the target.
    */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    val p = f.toPath
    if (java.nio.file.Files.isDirectory(
        p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** `events` with `ts` normalized to a µs-precision TIMESTAMP, whatever
    * physical type the source stored.
    *
    * The driver's testdata has shipped `ts` in two formats across rounds:
    * TIMESTAMP(NANOS) (readable only as a raw nanosecond long under the
    * legacy flag) and plain TIMESTAMP(µs) (read as TIMESTAMP_NTZ when the
    * parquet is not UTC-adjusted). [[normalizeTs]] dispatches on the dtype
    * the scan actually produced, so both formats — plus our own ScaleData
    * rehearsal parquet, which keeps a BIGINT ts — resolve to one canonical
    * TimestampType column and downstream window/bucketing code stays
    * type-clean.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }

  /** Canonicalize an events frame's `ts` to µs TimestampType. Long = epoch
    * nanos (legacy-flag read); NTZ wall-clock is reinterpreted in the
    * session TZ (pinned UTC), which is exactly the instant DuckDB's naive
    * epoch_ms sees.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // integer `div`, NOT `/`: epoch-nanos (~1.7e18) exceeds double's 2^53
      // mantissa, so float division drifts by whole milliseconds.
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Epoch milliseconds of a (possibly NTZ) timestamp column — the one
    * timestamp representation that hash-compares cleanly against DuckDB's
    * epoch_ms (FIXTURES.md caveats). Session TZ is pinned UTC.
    */
  def tsMillis(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_millis(c.cast("timestamp"))

  // --------------------------------------------------------------------------
  // hw5 `student(id string, name string, age int, sex string)` view
  // (reference: homework-5/README.md:82). Derived deterministically from
  // `customer` with injected NULL id/name rows so three-valued-logic and
  // null-safe EXCEPT semantics are observable (FIXTURES.md B4).
  // --------------------------------------------------------------------------

  def student(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
      when(col("c_custkey") % 37 === 0, lit(null))
        .otherwise(col("c_custkey").cast("string")).as("id"),
      when(col("c_custkey") % 41 === 0, lit(null))
        .otherwise(col("c_name")).as("name"),
      (lit(10) + col("c_custkey") % 50).cast("int").as("age"),
      when(col("c_custkey") % 2 === 0, lit("m")).otherwise(lit("f")).as("sex"))

  /** Same derivation as [[student]], as a DuckDB CTE body. */
  val studentSql: String =
    """SELECT
      |  CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE CAST(c_custkey AS VARCHAR) END AS id,
      |  CASE WHEN c_custkey % 41 = 0 THEN NULL ELSE c_name END AS name,
      |  CAST(10 + c_custkey % 50 AS INT) AS age,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'm' ELSE 'f' END AS sex
      |FROM customer""".stripMargin

  /** Registers `student` as a temp view for literal spark.sql queries. */
  def studentView(spark: SparkSession, dir: String): Unit =
    student(spark, dir).createOrReplaceTempView("student")

  // --------------------------------------------------------------------------
  // hw3 wide-column `cells(rowkey, family, qualifier, value, version)` table
  // (reference: homework-3/HBaseClient.java:83-120 — rowkey → CF → qualifier
  // → value cells, with up-to-3 retained versions per cell). Derived from
  // `orders`: each customer's orders become successive versions of the cells
  // under rowkey "C<custkey>", so maxVersions(3) retention is observable.
  // --------------------------------------------------------------------------

  def cells(spark: SparkSession, dir: String): DataFrame =
    // ONE orders scan: each row explodes into its three cells (a codegen'd
    // Generate), vs the 3× unionAll-of-selects form that scanned the same
    // table three times — at 100 TB that's the difference between one and
    // three full passes over the fact table. NOT widened: the cells
    // consumers' heavy work (version-resolution windows) runs above their
    // own rowkey shuffle, which already spreads it — an upstream rebalance
    // measured as pure overhead here (q104 warm 1.07 → 1.21 s).
    t(spark, dir, "orders").select(
        concat(lit("C"), col("o_custkey").cast("string")).as("rowkey"),
        col("o_orderkey").as("version"),
        explode(array(
          struct(lit("order").as("family"), lit("status").as("qualifier"),
            col("o_orderstatus").as("value")),
          struct(lit("order").as("family"), lit("totalprice").as("qualifier"),
            floor(col("o_totalprice")).cast("string").as("value")),
          struct(lit("info").as("family"), lit("priority").as("qualifier"),
            col("o_orderpriority").as("value")))).as("cell"))
      .select(col("rowkey"), col("cell.family").as("family"),
        col("cell.qualifier").as("qualifier"), col("cell.value").as("value"),
        col("version"))

  /** Same derivation as [[cells]], as a DuckDB CTE body. */
  val cellsSql: String =
    """SELECT 'C' || CAST(o_custkey AS VARCHAR) AS rowkey, 'order' AS family,
      |       'status' AS qualifier, o_orderstatus AS value, o_orderkey AS version
      |FROM orders
      |UNION ALL
      |SELECT 'C' || CAST(o_custkey AS VARCHAR), 'order', 'totalprice',
      |       CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), o_orderkey
      |FROM orders
      |UNION ALL
      |SELECT 'C' || CAST(o_custkey AS VARCHAR), 'info', 'priority',
      |       o_orderpriority, o_orderkey
      |FROM orders""".stripMargin
}
