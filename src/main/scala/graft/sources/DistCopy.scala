package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** hw4 DistCopy — partition-parallel distributed file copy.
  *
  * Reference (homework-4/.../DistCopyMain.scala): recursive source listing
  * building (src, dst) pairs (:74-86), `parallelize(fileList, maxConcurrence)
  * .mapPartitions` with a per-partition FileSystem handle (:54-58), per-file
  * byte copy with try/catch so one bad file doesn't kill the job (:59-66),
  * `-i` ignore-failures and `-m` max-concurrency flags (:18-41).
  *
  * Kept as a typed Dataset.mapPartitions op — a side-effecting ETL with no
  * SQL equivalent (SURVEY.md §2.1 S4). Scale notes: the file list is
  * metadata (small) so driver-side enumeration is fine even at 100 TB of
  * payload; `repartition(maxConcurrency)` spreads files evenly; one FS
  * handle per partition, not per file.
  */
object DistCopy {

  /** One file's copy outcome (success == the reference's report lines). */
  case class CopyResult(src: String, dst: String, ok: Boolean, error: String)

  /** Recursively enumerate files under `srcRoot`, mirroring the tree at
    * `dstRoot` (DistCopyMain.scala:74-86).
    */
  def listFilePairs(conf: Configuration, srcRoot: String, dstRoot: String): Seq[(String, String)] = {
    val src = new Path(srcRoot)
    val fs = src.getFileSystem(conf)
    val base = fs.getFileStatus(src).getPath.toUri.getPath
    val it = fs.listFiles(src, true)
    val out = Seq.newBuilder[(String, String)]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      out += ((st.getPath.toString, s"$dstRoot/$rel"))
    }
    out.result()
  }

  /** Copy all files under srcRoot to dstRoot with `maxConcurrency` parallel
    * partitions; returns the per-file report. The default
    * `ignoreFailures=true` is the reference's default (per-file failures
    * land in the report, the job completes); passing `false` is the
    * reference's `-i` flag (DistCopyMain.scala:23-28) — throw on the
    * first failed copy instead.
    */
  def run(spark: SparkSession, srcRoot: String, dstRoot: String,
          maxConcurrency: Int = 8, ignoreFailures: Boolean = true): Dataset[CopyResult] = {
    import spark.implicits._
    val hadoopConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val pairs = listFilePairs(hadoopConf.value, srcRoot, dstRoot)
    val n = math.max(1, math.min(maxConcurrency, pairs.size))
    val results = spark.createDataset(pairs)
      .repartition(n)
      .mapPartitions { it =>
        // one FS handle pair per partition (DistCopyMain.scala:56-58)
        val conf = hadoopConf.value
        it.map { case (src, dst) =>
          try {
            val srcPath = new Path(src)
            val dstPath = new Path(dst)
            val srcFs = srcPath.getFileSystem(conf)
            val dstFs = dstPath.getFileSystem(conf)
            dstFs.mkdirs(dstPath.getParent)
            val in = srcFs.open(srcPath)
            try {
              val out = dstFs.create(dstPath, true)
              try IOUtils.copyBytes(in, out, 64 * 1024)
              finally out.close()
            } finally in.close()
            CopyResult(src, dst, ok = true, "")
          } catch {
            case NonFatal(e) => CopyResult(src, dst, ok = false, String.valueOf(e))
          }
        }
      }
    // materialize the copies exactly ONCE, eagerly: the report Dataset is
    // side-effecting, and returning it lazy would re-copy every file on
    // each downstream action. localCheckpoint truncates the lineage, so no
    // later recomputation can re-run the copy stage.
    val report = results.localCheckpoint(eager = true)
    if (!ignoreFailures) {
      val failed = report.filter(!_.ok).take(1)
      if (failed.nonEmpty)
        throw new RuntimeException(s"copy failed: ${failed.head.src}: ${failed.head.error}")
    }
    report
  }
}
