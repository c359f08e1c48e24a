package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** hw3 write path — HBase-like keyed cell store over parquet.
  *
  * Reference (homework-3/.../HBaseClient.java): namespace+table DDL with
  * column families and maxVersions=3 (:122-144), Put upserts (:83-120),
  * Get/Scan reads (:63-80). Model: one parquet-backed SQL table in
  * long cell format `(rowkey, family, qualifier, value, version)`;
  * a Put is an append (immutable storage — the LSM philosophy), and
  * reads resolve the newest `maxVersions` per cell with a ranking window,
  * exactly like HBase's read-side version filtering. At scale: appends are
  * blind writes (no read-modify-write), version resolution happens once
  * per read and can be compacted by rewriting the latest-N per cell.
  *
  * Cell values are STRING by default; `binaryValues = true` stores
  * `value BINARY` — the reference's actual cell type (HBaseClient.java:
  * 40-48 round-trips every value through Bytes.toBytes/Bytes.toString,
  * i.e. cells are byte[] and strings are one encoding of them). All read
  * ops are value-type-agnostic (version resolution never touches the
  * value), and `put` casts to whatever value type the table declares.
  */
object KeyedStore {

  val schemaDdl = "rowkey STRING, family STRING, qualifier STRING, value STRING, version BIGINT"
  val schemaDdlBinary = "rowkey STRING, family STRING, qualifier STRING, value BINARY, version BIGINT"

  /** DDL: create the cell table over a parquet location
    * (HBaseClient.java:122-144 createTable parity).
    */
  def create(spark: SparkSession, table: String, location: String,
             binaryValues: Boolean = false): Unit = {
    val ddl = if (binaryValues) schemaDdlBinary else schemaDdl
    // quote both interpolations: a location containing a single quote
    // (e.g. /data/o'brien) would otherwise break the DDL mid-literal —
    // and verbatim splicing of caller strings into SQL is an injection
    // surface. Backticks per qualifier part (so db.table still works).
    // Spark string literals accept BOTH doubled-quote ('') and backslash
    // escapes (probed empirically on 4.1.2), and backslash sequences are
    // ACTIVE — so backslashes must be doubled too or '\t' in a path
    // silently becomes a tab. UNLESS the session runs with
    // spark.sql.parser.escapedStringLiterals=true (Hive-compat mode):
    // then backslashes are inert and doubling them would corrupt the path.
    val qTable = table.split('.')
      .map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    val rawLiterals = spark.conf
      .getOption("spark.sql.parser.escapedStringLiterals").contains("true")
    val qSlash = if (rawLiterals) location else location.replace("\\", "\\\\")
    val qLoc = qSlash.replace("'", "''")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $qTable ($ddl) USING parquet LOCATION '$qLoc'")
  }

  /** Put: append cells (HBaseClient.java:83-120). Accepts any DataFrame
    * with the cell schema; a single Put row is a 1-row DataFrame. The
    * value column is cast to the table's declared value type (string or
    * binary — a string Put into a binary table stores its UTF-8 bytes,
    * exactly Bytes.toBytes).
    */
  def put(spark: SparkSession, table: String, cells: DataFrame): Unit = {
    val valueType = spark.table(table).schema("value").dataType
    // a null value is the TOMBSTONE marker (see delete) — a Put must never
    // write one silently (HBase's Bytes.toBytes throws on null too), so
    // fail the write at the offending row instead of burying a delete
    val guarded = when(col("value").isNull,
      raise_error(concat(lit("put: null value for rowkey "), col("rowkey"),
        lit(" — use delete() for tombstones")))).otherwise(col("value"))
    // marker first: a crash after the append with the marker intact would
    // serve the new cells unresolved (see the marker scaladoc)
    invalidateCompactionMarker(spark, table)
    cells.select(col("rowkey"), col("family"), col("qualifier"),
      guarded.cast(valueType).as("value"), col("version").cast("long"))
      .write.mode("append").insertInto(table)
  }

  private val cellWin =
    Window.partitionBy(col("rowkey"), col("family"), col("qualifier"))

  private val verWin = cellWin.orderBy(col("version").desc)

  /** Delete: append a TOMBSTONE cell (value = NULL — a Put can never write
    * null, Bytes.toBytes rejects it, so null is unambiguous). A tombstone
    * at version v masks every version ≤ v of its cell (HBase DeleteColumn
    * semantics): reads resolve it, and a later Put at a higher version is
    * visible again. Like Put, a blind append — no read-modify-write.
    * `keys` needs (rowkey, family, qualifier, version).
    */
  def delete(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    val valueType = spark.table(table).schema("value").dataType
    invalidateCompactionMarker(spark, table) // same ordering contract as put
    keys.select(col("rowkey"), col("family"), col("qualifier"),
      lit(null).cast(valueType).as("value"), col("version").cast("long"))
      .write.mode("append").insertInto(table)
  }

  /** Read-side resolution over any cell frame: drop versions at or below
    * each cell's newest tombstone, then keep the newest `maxVersions`.
    * Both windows share one (rowkey, family, qualifier) exchange — at
    * scale this is a single shuffle on the store's natural shard key.
    *
    * Version uniqueness is the WRITER's contract: two puts of one cell at
    * the SAME version are a row_number tie that resolves
    * engine-arbitrarily (HBase would overwrite in place; an append-only
    * log cannot know which append was "later"). Every writer here mints
    * monotonic versions (see kmeansSave's re-save versioning); a
    * deployment needing last-write-wins at equal timestamps would add a
    * sequence tiebreaker column to the append.
    */
  def resolveCells(cells: DataFrame, maxVersions: Int = 3): DataFrame =
    cells
      // the tombstone max is frame-unbounded, so its value is ordering-
      // independent — but declaring verWin's (version DESC) ordering with
      // an explicit whole-partition frame lets the ranking window below
      // reuse the SAME sort: the previous orderless spec sorted the cell
      // table twice (once on the partition keys for this max, once with
      // version DESC for row_number). One exchange, one sort (r19).
      .withColumn("tv", max(when(col("value").isNull, col("version")))
        .over(verWin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("value").isNotNull && (col("tv").isNull || col("version") > col("tv")))
      .drop("tv")
      .withColumn("rn", row_number().over(verWin))
      .filter(col("rn") <= maxVersions)
      .drop("rn")

  /** Compaction marker plumbing. After compact(k) every stored cell is
    * already the newest ≤k live versions of its cell and no tombstone
    * survives, so a scan(m) with m ≥ k needs NO version-resolution window
    * — a plain table read IS the resolved result. The marker (a `_`-named
    * file Spark's file index treats as hidden, like _SUCCESS) records k;
    * any subsequent put/delete removes it BEFORE appending, so a crash
    * between the two leaves the store un-marked (slow path, still
    * correct) — the unsafe order would leave a stale marker serving
    * unresolved appends. Single-writer contract (see compact) makes the
    * remove-then-append sequence race-free.
    */
  private val MarkerName = "_graft_compacted"

  private def tableLocation(spark: SparkSession, table: String): Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
  }

  private def withFs(spark: SparkSession, loc: Path)(f: org.apache.hadoop.fs.FileSystem => Unit): Unit =
    f(loc.getFileSystem(spark.sessionState.newHadoopConf()))

  /** Read a small `_`-named sidecar file fully as UTF-8. InputStream.read
    * may legally return fewer bytes than available (chunking filesystems),
    * so a single read() could truncate the value — loop to stream end,
    * capped at `cap` bytes (sidecars here are <64 B by construction).
    */
  private[graft] def readSidecarUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path, cap: Int = 256): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](cap)
      var off = 0
      var n = 0
      while (off < cap && { n = in.read(bytes, off, cap - off); n >= 0 }) off += n
      new String(bytes, 0, off, "UTF-8")
    } finally in.close()
  }

  private[graft] def compactedVersions(spark: SparkSession, table: String): Option[Int] = {
    val loc = tableLocation(spark, table)
    val marker = new Path(loc, MarkerName)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) None
    else scala.util.Try(readSidecarUtf8(fs, marker).trim.toInt).toOption
  }

  private def writeCompactionMarker(spark: SparkSession, loc: Path, k: Int): Unit =
    withFs(spark, loc) { fs =>
      val out = fs.create(new Path(loc, MarkerName), true)
      try out.write(k.toString.getBytes("UTF-8")) finally out.close()
    }

  private def invalidateCompactionMarker(spark: SparkSession, table: String): Unit = {
    val loc = tableLocation(spark, table)
    withFs(spark, loc) { fs => fs.delete(new Path(loc, MarkerName), false); () }
  }

  /** Read-side version resolution: newest `maxVersions` per live cell.
    * Marker-gated fast path: a store compacted down to ≤ maxVersions
    * versions per cell is served as a plain parquet read — no
    * (rowkey, family, qualifier) exchange, no ranking window. A
    * build-once/serve-many index (q127/q135) reads the same plain table
    * through [[buildOnce]], whose marked store is always one version per
    * cell.
    *
    * CONSTRAINT — consume before the next write: the fast/slow path choice
    * is made at DataFrame-BUILD time. A DataFrame built while the marker
    * exists is a raw table read; if it is first (or re-) evaluated after a
    * later put/delete — which invalidates the marker and appends — it will
    * surface unresolved duplicate versions that the slow-path plan would
    * have resolved. Evaluate (or checkpoint/cache) a scan before the next
    * write to the same table (single-writer contract, see compact).
    */
  def scan(spark: SparkSession, table: String, maxVersions: Int = 3): DataFrame =
    compactedVersions(spark, table) match {
      case Some(k) if k <= maxVersions => spark.table(table)
      case _ => resolveCells(spark.table(table), maxVersions)
    }

  /** Prefix scan, optionally reversed (HBaseClient.java:64-68). */
  def prefixScan(spark: SparkSession, table: String, prefix: String,
                 reversed: Boolean = false, maxVersions: Int = 3): DataFrame = {
    val s = scan(spark, table, maxVersions).filter(col("rowkey").startsWith(prefix))
    if (reversed)
      s.orderBy(col("rowkey").desc, col("family"), col("qualifier"), col("version").desc)
    else
      s.orderBy(col("rowkey"), col("family"), col("qualifier"), col("version").desc)
  }

  /** Compaction: rewrite the table keeping only the newest `maxVersions`
    * per live cell — the background process that makes blind-append Puts
    * sustainable (read amplification stays bounded). This is a MAJOR
    * compaction in HBase terms: tombstoned versions are physically dropped
    * and the tombstones themselves are garbage-collected (safe because the
    * rewrite covers the whole table, so no older masked version can
    * resurface). Fully distributed:
    * the kept cells are written to a sibling temp directory by the
    * executors, then swapped into the table location with two metadata
    * renames — the driver never holds a row.
    *
    * Crash safety: a crash between the two renames leaves the previous
    * data in the `_old` dir; the next compact() (or any retry) detects
    * that state — live dir missing, `_old` present — and restores it
    * before doing anything destructive. `_old` is only deleted while the
    * live dir verifiably exists. If the second rename fails, the first is
    * rolled back so the table is never left missing.
    *
    * Concurrency contract: SINGLE WRITER — and that excludes concurrent
    * `put`/`delete` too, not just other compacts: a put that commits new
    * parquet files into the live dir AFTER this compact's snapshot read
    * but before the swap is swept away with the old files (the snapshot
    * didn't contain it, and the swap replaces the whole dir). Like an
    * HBase major compaction, exactly one writer may touch a table at a
    * time; two concurrent compacts additionally race on the same
    * `_tmp`/`_old` paths and their delete/rename interleavings are
    * destructive. The crash recovery above is
    * single-process recovery, not mutual exclusion (this store has no
    * coordination service to host a lock; a deployment would serialize
    * compactions per table the way HBase's master does). Readers during
    * the swap window — between the two renames the live dir briefly does
    * not exist — get a transient file-not-found and must retry; `scan`
    * calls that already resolved their file listing are unaffected reads
    * of immutable parquet until `refreshTable`.
    */
  def compact(spark: SparkSession, table: String, maxVersions: Int = 3): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicSwap.replaceDir(fs, loc, s"compact of $table") { tmp =>
      // distributed snapshot of the kept cells (reads the live table once)
      scan(spark, table, maxVersions).write.mode("overwrite").parquet(tmp.toString)
    }
    // marker AFTER the swap: a crash before this line leaves the store
    // compacted-but-unmarked — slow path, still correct
    writeCompactionMarker(spark, loc, maxVersions)
    spark.catalog.refreshTable(table) // drop cached file listings for the old files
  }

  /** Build-once / serve-many: the lifecycle of a persisted index (q127,
    * q135). A marked store is a built store: when the compaction marker
    * covers one version, the table is served as a plain read and `cells`
    * is never evaluated. Any other store — fresh, or left partial by a
    * crash — is rebuilt from `cells` (rowkey, family, qualifier, value):
    * they are resolved to one version per cell, written over the table,
    * and only then marked. The marker therefore commits the build — a
    * crash anywhere before it leaves the store unmarked, which costs a
    * rebuild and never serves a partial index — and resolution makes the
    * "at most one version per cell" the marker asserts true by
    * construction, in the same file layout `compact` writes.
    */
  def buildOnce(spark: SparkSession, table: String, location: String)
               (cells: => DataFrame): DataFrame = {
    create(spark, table, location)
    if (!compactedVersions(spark, table).exists(_ <= 1)) {
      resolveCells(cells.withColumn("version", lit(1L)), maxVersions = 1)
        .select(col("rowkey"), col("family"), col("qualifier"), col("value"), col("version"))
        .write.mode("overwrite").insertInto(table)
      writeCompactionMarker(spark, tableLocation(spark, table), 1)
      spark.catalog.refreshTable(table)
    }
    spark.table(table)
  }

  /** Point Get (HBaseClient.java:71-80): newest value per qualifier. */
  def get(spark: SparkSession, table: String, rowkey: String): DataFrame =
    scan(spark, table, maxVersions = 1)
      .filter(col("rowkey") === rowkey)
      .select(col("family"), col("qualifier"), col("value"))
      .orderBy(col("family"), col("qualifier"))
}
