package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: set up a session, run the untimed
  * check pass and one untimed warm pass, then a fixed number of
  * closed-loop timed passes over the workload's queries.
  *
  * Usage: `perfbench.Runner <plan.properties> <out.json>`. The plan is
  * written by `run.py`, which owns every derived number: this side only
  * measures and reports raw samples (per-query seconds per pass, per-pass
  * wall and CPU, output fingerprints, peak RSS) plus, with `trace=1`, the
  * per-layer counters of [[Tracer]]. With `trace=1` the timed passes are
  * untraced, traced, untraced: the traced pass sits at the mean position
  * of the two untraced ones, so their gap is the tracing overhead and not
  * JIT warm-up.
  *
  * Every query runs through the noop sink, as `graft.Bench` does, but the
  * methodology here is deliberately plain: no history, no retries and no
  * load gate, so a parent commit and a change are measured the same way.
  */
object Runner {

  def main(args: Array[String]): Unit = {
    val plan = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String =
      Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    val dir = p("dir")
    val queries = p("queries").split(",").toSeq.filter(_.nonEmpty)
    val passOrders = p("pass_orders").split(";").toSeq.map(_.split(",").toSeq)
    val serveChecks = p("serve_checks").split(",").toSeq.filter(queries.contains)
    val trace = p("trace") == "1"
    val runRoot = new File(p("run_root"))
    val launchMs = p("launch_epoch_ms").toLong
    val cpus = p("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark keeps 100 compiled codegen classes by default. A pass
      // generates more than that, so with the default every pass compiles
      // its classes again (Janino, then JIT), and that recompilation was
      // half of a warm pass's time and most of its variation. The cache
      // holds them all, so timed passes measure the program's own work.
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runRoot, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runRoot, "warehouse").getPath)
      .config("spark.graft.scratchDir", new File(runRoot, "scratch").getPath)
      .config("spark.graft.oracle.auxDir", new File(runRoot, "aux").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.BenchUtil.autoSizeForData(spark, dir)

    val errors = mutable.LinkedHashMap[String, String]()
    def note(q: String, e: Throwable): Unit = {
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      System.err.println(s"[perfbench] $q failed: $msg")
      errors.getOrElseUpdate(q, msg)
    }

    val tracer =
      if (trace) Some(new Tracer(spark, dir, cpus, new File(runRoot, "trace"),
        p("spans_out")))
      else None
    tracer.foreach(_.start())

    // untimed check pass: one pass computing each output fingerprint.
    // It is each query's first run in a fresh state root, so stateful
    // queries build their stores here (traced as cold builds).
    val checkSeconds = mutable.ArrayBuffer[(String, String)]()
    val check = queries.map { q =>
      val t0 = System.nanoTime()
      def build() = graft.SparkEntry.queries(q)(spark, dir)
      val fp =
        try Right(Fingerprint.of(tracer.fold(build())(_.coldBuild(q)(build()))))
        catch { case e: Throwable => note(q, e); Left(e) }
      checkSeconds += q -> Json.num((System.nanoTime() - t0) / 1e9)
      q -> fp
    }
    // the stateful queries once more, now that their stores exist: the
    // serve (read) path that the timed passes run
    val serveCheck = serveChecks.map { q =>
      val fp =
        try Right(Fingerprint.of(graft.SparkEntry.queries(q)(spark, dir)))
        catch { case e: Throwable => note(q, e); Left(e) }
      s"$q@serve" -> fp
    }

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jitBean = ManagementFactory.getCompilationMXBean
    case class Pass(wall: Double, cpu: Double, jit: Double, samples: Seq[(String, Double)])
    def timedPass(order: Seq[String], run: String => Unit): Pass = {
      val j0 = jitBean.getTotalCompilationTime
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val samples = order.map { q =>
        val s0 = System.nanoTime()
        val ok =
          try { run(q); true }
          catch { case e: Throwable => note(q, e); false }
        q -> (if (ok) (System.nanoTime() - s0) / 1e9 else -1.0)
      }
      Pass((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9,
        (jitBean.getTotalCompilationTime - j0) / 1e3, samples)
    }
    def plain(q: String): Unit = noop(graft.SparkEntry.queries(q)(spark, dir))
    tracer.foreach(_.pause())
    // untimed warm pass: the first noop run of each query still compiles
    // its plan's classes and takes the steepest part of the JIT warm-up
    val warm = timedPass(queries, plain)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val (passes, layers) = tracer match {
      case None => (passOrders.map(timedPass(_, plain)), Seq.empty)
      case Some(t) =>
        val Seq(o1, o2, o3) = passOrders
        val ps = Seq(timedPass(o1, plain), t.tracedPass(timedPass(o2, t.tracedQuery)),
          timedPass(o3, plain))
        (ps, t.layers(untraced = Seq(ps(0), ps(2)).map(_.wall), traced = ps(1).wall))
    }

    val out = new StringBuilder("{")
    def passJson(ps: Pass): String =
      s"""{"wall_s":${ps.wall},"cpu_s":${ps.cpu},"jit_s":${ps.jit},"samples":""" +
        Json.obj(ps.samples.map { case (q, s) => q -> Json.num(s) }) + "}"
    out ++= s""""setup_s":$setupS,"rss_peak_mb":${Json.num(rssPeakMb())},"warm":${passJson(warm)},"passes":["""
    out ++= passes.map(passJson).mkString(",")
    out ++= "],\"check\":" + Json.obj((check ++ serveCheck).map {
      case (q, Right(f)) => q -> s"[${f._1},${f._2},${f._3}]"
      case (q, Left(_)) => q -> "null"
    })
    out ++= ",\"check_s\":" + Json.obj(checkSeconds.toSeq)
    out ++= ",\"errors\":" + Json.obj(errors.toSeq.map { case (q, m) => q -> Json.str(m) })
    out ++= ",\"layers\":" + Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
    out ++= "}"
    Files.writeString(Paths.get(args(1)), out.toString)
    spark.stop()
  }

  /** The same full materialization `graft.Bench` times. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Peak resident set of this JVM (VmHWM), MB; -1 where /proc is absent. */
  def rssPeakMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
}

/** Order-insensitive output fingerprint: (rows, sum of hashes>>>24, xor of
  * hashes) over a per-row xxhash64. Floating values are hashed through
  * their 12-significant-digit text, so a reduction-order difference in the
  * last bits does not read as a wrong answer; maps are hashed as their
  * sorted entry arrays (xxhash64 rejects map types).
  */
object Fingerprint {
  def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.12g", c.cast(DoubleType))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): (Long, Long, Long) = {
    val fields = df.schema.fields.toSeq
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 24)), bit_xor(col("h")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** Minimal JSON writing for the flat raw report. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
