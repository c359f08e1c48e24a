package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkConf
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-run profile of any registered query on the code path `graft.Bench`
  * times: each run is one [[graft.BenchUtil.execNoop]] call, observed
  * through Spark's public listeners and printed as one JSON line:
  * `wall_s` = `build_s` (up to the noop write's optimization) + `plan_s`
  * (its optimization and planning, from its `QueryPlanningTracker`) +
  * `exec_s`; `jobs` (the builder's included) and `write_jobs` (those of the
  * noop write's SQL execution, the run's last to finish); `stages`, `tasks`,
  * `task_s`, `cpu_s`, `gc_s`, `shuffle_write_mb`; `serialized_stage_s`
  * ([[layoutSerialized]] stages); `exchanges` in the write's final AQE plan
  * (perfbench's `plans.exchanges` rule; a checkpointed frame is a leaf
  * `Scan ExistingRDD` there, so the exchanges that built it are not
  * counted, though its jobs and stages are); the micro-batches' `batches`,
  * `trigger_s`, `add_batch_s`, `wal_commit_s` (walCommit + commitOffsets)
  * and `query_planning_s`; `errors`, the run's ERROR log events; and
  * `memo_misses`, the [[graft.Tables.memo]] computes during the run (that
  * memo holds every table-derived value: relations, row-group and row
  * counts, models, cluster indexes, the streaming replays' staged input,
  * keyed by session and table signature, so 0 means the run reused all of
  * them).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <runs> <substr>[,<substr>…] [plansDir]
  * writes each final plan to `<plansDir>/<query>.txt` as well. The session
  * defaults are Bench's (`local[SPARK_GRAFT_CPUS]`, as many shuffle
  * partitions, AQE, UTC, autoSizeForData); any `-Dspark.*` JVM property
  * overrides them.
  */
object Profile {

  /** A stage of at least 150 ms carried by one or two busy tasks (that read
    * records and ran over 30 ms) is serialized by physical layout (one row
    * group, an un-split file). `tasks` are (run ms, records read).
    */
  def layoutSerialized(durationMs: Long, tasks: Seq[(Long, Long)]): Boolean = {
    val busy = tasks.count { case (runMs, records) => records > 0 && runMs > 30 }
    durationMs >= 150 && busy >= 1 && busy <= 2
  }

  /** Job description of the one-task jobs that drain the listener bus. */
  val DrainTag = "graft-profile-drain"

  final case class Record(query: String, run: Int, ok: Boolean, fields: Seq[(String, Double)]) {
    def json: String = (s""""query":"$query","run":$run,"ok":$ok""" +: fields.map {
      case (k, v) => s""""$k":""" + (if (v.isWhole) v.toLong.toString else graft.BenchUtil.fmt(v, 4))
    }).mkString("{", ",", "}")
  }

  /** Attaches its listeners to `spark` until [[close]]. */
  final class Profiler(spark: SparkSession) extends AutoCloseable {
    private val events = mutable.ArrayBuffer[SparkListenerEvent]()
    @volatile private var lastQe: Option[QueryExecution] = None
    private val errors = new AtomicLong()

    private val listener = new SparkListener {
      private def add(e: SparkListenerEvent): Unit = events.synchronized(events += e)
      override def onJobStart(e: SparkListenerJobStart): Unit = add(e)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = add(e) // SQL and streaming
    }
    private val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastQe = Some(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = lastQe = Some(qe)
    }
    private val appender =
      new AbstractAppender("graft-profile-errors", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errors.incrementAndGet()
      }
    private val rootLogger =
      LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration.getRootLogger

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    rootLogger.addAppender(appender, Level.ERROR, null)

    private def tagged(j: SparkListenerJobStart): Boolean =
      Option(j.properties).exists(_.getProperty("spark.job.description") == DrainTag)

    /** Runs a tagged one-task job and returns, then clears, the events
      * posted before its stage completed (they share its queue).
      */
    private def drain(): Seq[SparkListenerEvent] = {
      val sc = spark.sparkContext
      sc.setJobDescription(DrainTag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && !events.synchronized {
        val ids = events.collect { case j: SparkListenerJobStart if tagged(j) => j.stageIds }.flatten
        events.collect { case s: SparkListenerStageCompleted => s.stageInfo.stageId }.exists(ids.contains)
      }) Thread.sleep(5)
      events.synchronized { val r = events.toSeq; events.clear(); r }
    }

    private def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    /** One `execNoop` run of `name`, with its plan written to `plansDir`. */
    def run(name: String, dir: String, run: Int, plansDir: Option[String] = None): Record = {
      drain()
      lastQe = None
      val (errors0, gc0, misses0) = (errors.get, gcMs(), graft.Tables.memoMisses)
      val t0 = System.currentTimeMillis()
      val wall = graft.BenchUtil.execNoop(spark, name, dir, "profile")
      val misses = graft.Tables.memoMisses - misses0
      val gcS = (gcMs() - gc0) / 1e3
      val evs = drain()
      val nErrors = errors.get - errors0
      val (drains, jobs) = evs.collect { case j: SparkListenerJobStart => j }.partition(tagged)
      val skip = drains.flatMap(_.stageIds).toSet
      val tasks = evs.collect {
        case t: SparkListenerTaskEnd if !skip(t.stageId) && t.taskMetrics != null => t }
      val stages = evs.collect {
        case s: SparkListenerStageCompleted if !skip(s.stageInfo.stageId) => s.stageInfo }
      val writeExecution = evs.collect { case e: SparkListenerSQLExecutionEnd => e.executionId }.lastOption
      def execution(j: SparkListenerJobStart) = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
      val batches = evs.collect { case p: QueryProgressEvent => p.progress.durationMs.asScala }
      def batchS(keys: String*) =
        batches.map(d => keys.map(d.get(_).fold(0L)(_.longValue)).sum).sum / 1e3

      val qe = lastQe
      val phases = qe.toSeq.flatMap(q => Seq(QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(q.tracker.phases.get))
      val planS = phases.map(_.durationMs).sum / 1e3
      val buildS = phases.map(_.startTimeMs).minOption.fold(0.0)(s => (s - t0) / 1e3)
      for (q <- qe; d <- plansDir) {
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, s"$name.txt"), q.executedPlan.treeString)
      }
      val byStage = tasks.groupBy(_.stageId)
      val serializedMs = stages.map { s =>
        val ms = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
        val ts = byStage.getOrElse(s.stageId, Nil).map(_.taskMetrics).map(m =>
          m.executorRunTime -> (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
        if (layoutSerialized(ms, ts)) ms else 0L
      }.sum
      def metric(f: TaskMetrics => Long) = tasks.map(t => f(t.taskMetrics)).sum
      Record(name, run, wall >= 0, Seq[(String, Double)](
        "wall_s" -> wall, "build_s" -> buildS, "plan_s" -> planS,
        "exec_s" -> (wall - buildS - planS),
        "jobs" -> jobs.size, "write_jobs" -> jobs.count(j => execution(j) == writeExecution),
        "stages" -> stages.size, "tasks" -> tasks.size,
        "task_s" -> metric(_.executorRunTime) / 1e3, "cpu_s" -> metric(_.executorCpuTime) / 1e9,
        "gc_s" -> gcS, "shuffle_write_mb" -> metric(_.shuffleWriteMetrics.bytesWritten) / 1048576.0,
        "serialized_stage_s" -> serializedMs / 1e3,
        "exchanges" -> qe.fold(0)(q => exchanges(q.executedPlan)),
        "batches" -> batches.size, "trigger_s" -> batchS("triggerExecution"),
        "add_batch_s" -> batchS("addBatch"), "wal_commit_s" -> batchS("walCommit", "commitOffsets"),
        "query_planning_s" -> batchS("queryPlanning"), "errors" -> nErrors,
        "memo_misses" -> misses))
    }

    def close(): Unit = {
      rootLogger.removeAppender(appender.getName)
      appender.stop()
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Shuffle and broadcast exchanges, through AQE stages and subqueries. */
  def exchanges(plan: SparkPlan): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <runs> [<substr>[,<substr>…] [plansDir]]")
    val (sfDir, runs) = (args(0), args(1).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val conf = new SparkConf() // holds every -Dspark.* JVM property
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.app.name", "graft-profile")
      .setIfMissing("spark.sql.shuffle.partitions", cpus)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.sql.adaptive.enabled", "true")
      .setIfMissing("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.BenchUtil.autoSizeForData(spark, sfDir)
    val profiler = new Profiler(spark)
    val filters = graft.BenchUtil.parseNameFilters(args.lift(2).getOrElse(""))
    try graft.SparkEntry.queries.keys.toSeq.sorted.filter(graft.BenchUtil.matchesFilter(_, filters))
      .foreach(n => (1 to runs).foreach(i => println(profiler.run(n, sfDir, i, args.lift(3)).json)))
    finally { profiler.close(); spark.stop() }
  }
}
