package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{CosineSimilarity, HyperplaneSignature, Int8Quantize, MinHashSig, NGramShingles, SimHash64}
import graft.sources.KeyedStore

/** The traced run: spans around each query's build in the check pass
  * (cold builds), then a traced pass that runs every query exactly as an
  * untraced pass does, with a span around its build and one around its
  * noop write, then one streaming probe and direct timed calls into the
  * `functions`, `tables` and `sources` modules. Spark's public listeners
  * supply the job/stage/task, planning and streaming counters; they are
  * attached only while traced work runs. Jobs and micro-batches are
  * attributed to the span that was open when they were submitted. Spans
  * stay in memory and are written as JSON lines to `spansOut` at the end.
  */
final class Tracer(spark: SparkSession, dir: String, cpus: Int,
                   scratch: File, spansOut: String) {

  /** start/end are epoch ms (the clock Spark stamps events with, used to
    * attribute jobs and batches); nanos is the span's precise duration.
    */
  case class Span(id: Int, parent: Int, name: String, query: String, start: Long, end: Long,
                  nanos: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int] // ids of the spans enclosing the current call
  private def span[T](name: String, query: String)(body: => T): (T, Span) = {
    val id = spans.size
    spans += null
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try body finally open = open.tail
    val s = Span(id, parent, name, query, t0, System.currentTimeMillis(), System.nanoTime() - n0)
    spans(id) = s
    (r, s)
  }
  private def seconds(s: Span): Double = s.nanos / 1e9

  // ---- Spark listener state (written on the listener-bus thread) ----
  case class Job(id: Int, submit: Long, stages: Seq[Int], var end: Long = -1L)
  final class TaskAgg {
    var tasks, failed = 0
    var runMs, cpuNs, shWrite, shRead, spill, peakMem = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, TaskAgg]()
  @volatile private var drainedJob = -1
  private val drainTag = "perfbench-drain"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).forall(_.getProperty("spark.job.description") != drainTag))
        jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)) match {
        case Some(j) => j.end = e.time
        case None => drainedJob = e.jobId
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failed += 1
        a.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far: a tagged
    * one-task job's end arrives after all earlier events on the same queue.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(drainTag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 10000
    while (drainedJob < 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
    drainedJob = -1
  }

  // ---- streaming progress (public StreamingQueryListener) ----
  case class Batch(ts: Long, durations: Map[String, Long], stateRows: Long)
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val streamsStarted, streamsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(ts, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(name: String, reps: Int = 3)(body: => Unit): Double =
    median((1 to reps).map(_ => seconds(span(name, "")(body)._2)))

  // ---- plans of the noop writes (public QueryExecutionListener) ----
  /** One finished execution: when its optimization began (epoch ms), the
    * time spent in optimization + physical planning, and the exchanges and
    * scans of its executed plan.
    */
  case class Planned(start: Long, planMs: Long, exchanges: Int, scans: Int)
  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[Planned]()
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty) {
        val nodes = planNodes(qe.executedPlan)
        planned.add(Planned(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum,
          nodes.count {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
            case _ => false
          },
          nodes.count {
            case _: ReusedExchangeExec => false
            case _: LeafExecNode => true
            case _ => false
          }))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false
  private def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
    attached = true
  }
  /** Waits for the listeners to see every event so far, then removes them. */
  private def detach(): Unit = if (attached) {
    drain()
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(listener)
    attached = false
  }

  /** Registers the listeners; call before the check pass. */
  def start(): Unit = attach()

  /** Removes the listeners, so that the passes that follow run untraced. */
  def pause(): Unit = detach()

  private val coldBuilds = mutable.ArrayBuffer[Span]()

  /** A query's build in the check pass: its first run in the run's empty
    * state root, so stateful queries take their build (write) path here.
    */
  def coldBuild[T](q: String)(body: => T): T = {
    val (r, s) = span("cold_build", q)(body)
    coldBuilds += s
    r
  }

  case class QSpans(q: String, build: Span, exec: Span, gcMs: Long)
  private val passQueries = mutable.ArrayBuffer[QSpans]()
  private var passSpan: Span = _

  /** The traced pass: listeners attached, one span around the pass. */
  def tracedPass[T](body: => T): T = {
    attach()
    val (r, s) = span("pass", "")(body)
    passSpan = s
    detach()
    r
  }

  /** One query of a traced pass, run exactly as an untraced pass runs it
    * (built, then written to the noop sink), with a span around the build
    * (construction + analysis) and one around the write (planning +
    * execution).
    */
  def tracedQuery(q: String): Unit = {
    val (df, b) = span("build", q)(graft.SparkEntry.queries(q)(spark, dir))
    val gc0 = gcMs()
    val (_, ex) = span("exec", q)(Runner.noop(df))
    passQueries += QSpans(q, b, ex, gcMs() - gc0)
  }

  /** Streaming query whose micro-batches feed the streaming metrics; no
    * workload runs one in its passes, so it runs once after the timed passes.
    */
  private val streamProbe = "q136_streamed_tumbling_counts"

  /** The per-layer metrics: the traced pass, the streaming probe and the
    * direct layer probes. `untraced` are the walls of the untraced passes
    * around the traced pass, whose wall is `traced`; their gap is the
    * tracing overhead.
    */
  def layers(untraced: Seq[Double], traced: Double): Seq[(String, Double)] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val qspans = passQueries.toSeq

    attach()
    val (_, probe) = span("streaming.probe", streamProbe) {
      Runner.noop(graft.SparkEntry.queries(streamProbe)(spark, dir))
    }
    val streamDeadline = System.currentTimeMillis() + 10000
    while (streamsEnded.get < streamsStarted.get && System.currentTimeMillis() < streamDeadline)
      Thread.sleep(5)
    detach()
    def within(t: Long, s: Span) = t >= s.start && t <= s.end
    val allJobs = jobs.values.asScala.toSeq
    def jobsIn(ss: Seq[Span]) = allJobs.filter(j => ss.exists(within(j.submit, _)))
    val buildJobs = jobsIn(qspans.map(_.build))
    val execJobs = jobsIn(qspans.map(_.exec))
    val execStages = execJobs.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    val plans = planned.asScala.toSeq.filter(pl => qspans.exists(s => within(pl.start, s.exec)))

    // job spans become children of the phase span they were submitted in
    val phaseSpans = qspans.flatMap(s => Seq(s.build, s.exec)) ++ coldBuilds :+ probe
    allJobs.sortBy(_.id).foreach { j =>
      phaseSpans.find(within(j.submit, _)).foreach { p =>
        val end = if (j.end < 0) p.end else j.end
        spans += Span(spans.size, p.id, s"job${j.id}", p.query, j.submit, end,
          (end - j.submit) * 1000000L)
      }
    }
    val jobSpans = spans.toSeq.filter(s => s != null && s.name.startsWith("job"))
    def selfSeconds(p: Span): Double = {
      val kids = jobSpans.filter(_.parent == p.id)
        .map(k => (math.max(k.start, p.start), math.min(k.end, p.end))).sortBy(_._1)
      var covered = 0L
      var from = p.start
      kids.foreach { case (a, b) =>
        val s = math.max(a, from)
        if (b > s) { covered += b - s; from = b }
      }
      math.max(0.0, seconds(p) - covered / 1e3)
    }

    val planS = plans.map(_.planMs).sum / 1e3
    val execS = qspans.map(s => seconds(s.exec)).sum - planS
    val runS = execStages.map(_.runMs).sum / 1e3
    out("operators.build_s") = qspans.map(s => seconds(s.build)).sum
    out("operators.build_self_s") = qspans.map(s => selfSeconds(s.build)).sum
    out("operators.build_jobs") = buildJobs.size
    Seq("q127", "q135").foreach { prefix =>
      def jobsOf(ss: Seq[Span]) = ss.filter(_.query.startsWith(prefix + "_")).map(s => jobsIn(Seq(s)).size).sum
      out(s"operators.build_jobs.$prefix") = jobsOf(qspans.map(_.build))
      out(s"operators.cold_build_jobs.$prefix") = jobsOf(coldBuilds.toSeq)
    }
    out("plans.plan_s") = planS
    out("plans.exchanges") = plans.map(_.exchanges).sum
    out("plans.scans") = plans.map(_.scans).sum
    out("engine.exec_s") = execS
    out("engine.exec_self_s") = qspans.map(s => selfSeconds(s.exec)).sum
    out("engine.jobs") = execJobs.size
    out("engine.stages") = execStages.size
    out("engine.tasks") = execStages.map(_.tasks).sum
    out("engine.driver_gap_s") = execS - runS / cpus
    out("engine.task_busy_frac") = if (execS > 0) runS / (execS * cpus) else 0.0
    out("engine.task_cpu_s") = execStages.map(_.cpuNs).sum / 1e9
    out("engine.shuffle_write_mb") = execStages.map(_.shWrite).sum / 1048576.0
    out("engine.shuffle_read_mb") = execStages.map(_.shRead).sum / 1048576.0
    out("engine.spill_mb") = execStages.map(_.spill).sum / 1048576.0
    out("engine.peak_exec_mem_mb") =
      (0L +: execStages.map(_.peakMem)).max / 1048576.0
    out("engine.gc_s") = qspans.map(_.gcMs).sum / 1e3
    out("engine.stage_skew") = median(execStages.filter(_.tasks >= 2).map { a =>
      val d = a.durations.sorted.map(_.toDouble)
      d.last / math.max(median(d.toSeq), 1.0)
    })
    out("engine.failed_tasks") = execStages.map(_.failed).sum

    // micro-batches of the traced pass and the probe: children of the
    // span that ran their stream
    val bs = batches.asScala.toSeq.filter(b => within(b.ts, passSpan) || within(b.ts, probe))
    out("streaming.batches") = bs.size
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    out("streaming.trigger_s") = dur("triggerExecution")
    out("streaming.add_batch_s") = dur("addBatch")
    out("streaming.wal_commit_s") = dur("walCommit") + dur("commitOffsets")
    out("streaming.query_planning_s") = dur("queryPlanning")
    out("streaming.state_rows") = bs.map(_.stateRows).sum
    bs.foreach { b =>
      val parent = (qspans.map(_.build) :+ probe).find(within(b.ts, _)).getOrElse(passSpan)
      val ms = b.durations.getOrElse("triggerExecution", 0L)
      spans += Span(spans.size, parent.id, "microbatch", parent.query, b.ts, b.ts + ms,
        ms * 1000000L)
    }

    out("trace.pass_s") = traced
    out("trace.untraced_pass_s") = median(untraced)
    out("trace.overhead_frac") = traced / median(untraced) - 1

    functionsLayer(out)
    tablesLayer(out)
    sourcesLayer(out)

    writeSpans()
    out.toSeq
  }

  /** Each public column builder / codegen expression over the workload's
    * own documents or embeddings, through the noop sink.
    */
  private def functionsLayer(out: mutable.Map[String, Double]): Unit = {
    Seq(NGramShingles.register _, MinHashSig.register _, SimHash64.register _,
      CosineSimilarity.register _, HyperplaneSignature.register _, Int8Quantize.register _)
      .foreach(_(spark))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val toks = graft.functions.tokens(col("text"))
    val shingled = docs.select(NGramShingles.shinglesFast(toks, 3).as("sh")).cache()
    shingled.count()
    val probes = broadcast(embs.orderBy("vec_id").limit(16).select(col("embedding").as("probe")))
    val cases = Seq[(String, DataFrame)](
      "shingles" -> docs.select(NGramShingles.shinglesFast(toks, 3)),
      "minhash" -> shingled.select(MinHashSig.minhashFast(col("sh"), 64)),
      "simhash64" -> docs.select(SimHash64.simhash64(toks)),
      "cosine" -> embs.crossJoin(probes)
        .select(CosineSimilarity.cosineFast(col("embedding"), col("probe"))),
      "hyperplane_sig" -> embs.select(HyperplaneSignature.signature(col("embedding"), 64)),
      "int8_quantize" -> embs.select(Int8Quantize.quantize(col("embedding"))))
    cases.foreach { case (name, df) =>
      Runner.noop(df) // warm this expression's codegen before timing it
      out(s"functions.${name}_s") = timed(s"functions.$name")(Runner.noop(df))
    }
    shingled.unpersist(blocking = true)
  }

  /** First `Tables.t` per table in a new session, then the memo hit. */
  private def tablesLayer(out: mutable.Map[String, Double]): Unit = {
    val names = new File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    val loads, hits = mutable.ArrayBuffer[Double]()
    (1 to 3).foreach { _ =>
      val s = spark.newSession()
      loads += seconds(span("tables.load", "")(names.foreach(graft.Tables.t(s, dir, _)))._2)
      hits += seconds(span("tables.hit", "")(names.foreach(graft.Tables.t(s, dir, _)))._2)
    }
    out("tables.load_s") = median(loads.toSeq)
    out("tables.hit_s") = median(hits.toSeq)
  }

  /** Direct KeyedStore calls on a store this run owns: three versions of
    * two qualifiers per document, one compaction, then reads.
    */
  private def sourcesLayer(out: mutable.Map[String, Double]): Unit = {
    val table = "perfbench_store"
    val loc = new File(scratch, "store")
    KeyedStore.create(spark, table, loc.getPath)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def cells(v: Int): DataFrame =
      docs.select(col("doc_id").cast("string").as("rowkey"), lit("d").as("family"),
        explode(map(lit("text"), col("text"), lit("lang"), col("lang"))).as(Seq("qualifier", "value")),
        lit(v.toLong).as("version"))
        .select(col("rowkey"), col("family"), col("qualifier"),
          concat(col("value"), lit(s" v$v")).as("value"), col("version"))
    val cellBytes = (1 to 3).map { v =>
      cells(v).select(sum(length(col("rowkey")) + length(col("family")) +
        length(col("qualifier")) + length(col("value")) + 8)).head().getLong(0)
    }.sum
    val putS = (1 to 3).map(v => seconds(span("sources.put", "")(KeyedStore.put(spark, table, cells(v)))._2)).sum
    val afterPuts = treeBytes(loc)
    val compactS = seconds(span("sources.compact", "")(KeyedStore.compact(spark, table, 1))._2)
    val afterCompact = treeBytes(loc)
    out("sources.put_s") = putS
    out("sources.compact_s") = compactS
    out("sources.write_amp") = (afterPuts + afterCompact).toDouble / cellBytes
    out("sources.state_mb") = afterCompact / 1048576.0
    out("sources.scan_s") = timed("sources.scan")(Runner.noop(KeyedStore.scan(spark, table, 1)))
    val keys = Seq("0", "7", "42", "1000", "4999")
    out("sources.get_s") = median(keys.map(k =>
      seconds(span("sources.get", "")(KeyedStore.get(spark, table, k).collect())._2)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  private def treeBytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      val s = Files.walk(f.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def writeSpans(): Unit = {
    val lines = spans.toSeq.filter(_ != null).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "query" -> Json.str(s.query),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "dur_s" -> Json.num(seconds(s))))
    }
    Files.createDirectories(Paths.get(spansOut).getParent)
    Files.writeString(Paths.get(spansOut), lines.mkString("", "\n", "\n"))
  }
}
