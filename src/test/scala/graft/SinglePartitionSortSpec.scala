package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{SinglePartitionSortExec, SinglePartitionSortStrategy}

/** The small-sort planner strategy: a global sort whose input is at most
  * the advisory partition size runs in one partition (no sampled range
  * bounds, so no sketch job), a larger one keeps Spark's range path, no
  * shuffle is ever added, and the rows come out in the range path's order.
  */
class SinglePartitionSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  /** Runs `body` with the strategy installed (`on`) or absent, restoring
    * the session's strategies afterwards.
    */
  private def withStrategy[T](on: Boolean)(body: => T): T = {
    val saved = spark.experimental.extraStrategies
    val others = saved.filterNot(_ eq SinglePartitionSortStrategy)
    spark.experimental.extraStrategies =
      if (on) others :+ SinglePartitionSortStrategy else others
    try body finally spark.experimental.extraStrategies = saved
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collects `df` (AQE on) and returns its rows, the jobs it ran and its
    * final physical plan.
    */
  private def run(df: => DataFrame): (Seq[Row], Int, SparkPlan) =
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val jobs = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val d = df
      ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val rows = try {
        val r = d.collect().toSeq
        ListenerBusBridge.drain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
      val plan = d.queryExecution.executedPlan
      assert(plan.toString.contains("isFinalPlan=true"), plan)
      (rows, jobs.get, plan)
    }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  private def rangeExchanges(plan: SparkPlan): Int =
    exchanges(plan).count(_.outputPartitioning.toString.startsWith("rangepartitioning"))

  /** 4,000 rows in four partitions; the `Range` leaf sizes them at 32 KB. */
  private def small: DataFrame =
    spark.range(0, 4000, 1, 4).select((col("id") * 7919 % 4000).as("k"),
      concat(lit("v"), col("id").cast("string")).as("v"))

  test("a small sort has no range exchange and runs one job fewer") {
    val (onRows, onJobs, onPlan) = withStrategy(on = true)(run(small.orderBy(col("k"))))
    val (offRows, offJobs, offPlan) = withStrategy(on = false)(run(small.orderBy(col("k"))))
    assert(rangeExchanges(offPlan) == 1, offPlan)
    assert(rangeExchanges(onPlan) == 0, onPlan)
    assert(collect(onPlan) { case s: SinglePartitionSortExec => s }.size == 1, onPlan)
    assert(exchanges(onPlan).size == exchanges(offPlan).size)
    assert(onJobs == offJobs - 1, s"jobs with $onJobs, without $offJobs")
    assert(onRows == offRows)
    assert(onRows.map(_.getLong(0)) == (0L until 4000L))
  }

  test("an input above the advisory partition size keeps the range exchange") {
    // a 16 KB advisory size puts the 32 KB input above the limit
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384") {
      assert(SinglePartitionSortStrategy.leafBytes(small.queryExecution.optimizedPlan) > 16384)
      val (rows, _, plan) = withStrategy(on = true)(run(small.orderBy(col("k"))))
      assert(rangeExchanges(plan) == 1, plan)
      assert(collect(plan) { case s: SinglePartitionSortExec => s }.isEmpty, plan)
      assert(rows.map(_.getLong(0)) == (0L until 4000L))
    }
  }

  test("an input already in one partition keeps its exchange count") {
    // grouped input that AQE coalesces to one partition, and a scan that
    // is one partition from the start
    def grouped: DataFrame = small.groupBy((col("k") % 10).as("g"))
      .agg(count(lit(1)).as("n")).orderBy(col("g"))
    def single: DataFrame = spark.range(0, 100, 1, 1).toDF().orderBy(col("id").desc)
    Seq(() => grouped, () => single).foreach { q =>
      val (onRows, _, onPlan) = withStrategy(on = true)(run(q()))
      val (offRows, _, offPlan) = withStrategy(on = false)(run(q()))
      assert(exchanges(onPlan).size == exchanges(offPlan).size, s"$onPlan\n$offPlan")
      assert(onRows == offRows)
    }
    val (_, _, singlePlan) = withStrategy(on = true)(run(single))
    assert(exchanges(singlePlan).isEmpty, singlePlan)
  }

  test("a streaming sort is left to Spark's planner") {
    val stream = spark.readStream.format("rate").load()
      .groupBy(col("value")).count().orderBy(col("value"))
    val batch = spark.range(0, 10).groupBy(col("id")).count().orderBy(col("id"))
    // no size limit, so only the streaming guard can decline
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> Long.MaxValue.toString) {
      val streamPlan = stream.queryExecution.analyzed
      assert(streamPlan.isStreaming)
      assert(SinglePartitionSortStrategy(streamPlan).isEmpty)
      assert(SinglePartitionSortStrategy(batch.queryExecution.optimizedPlan).nonEmpty)
    }
  }

  test("unique keys with null, NaN and infinities sort as on the range path") {
    val keys = Seq[java.lang.Double](null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 1.5, -2.25, 1e300, -1e-300, Double.MinPositiveValue)
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("i", IntegerType)))
    def df = spark.createDataFrame(
      java.util.Arrays.asList(keys.zipWithIndex.map { case (k, i) => Row(k, i) }: _*), schema)
      .repartition(4)
    Seq(col("k").asc, col("k").desc, col("k").asc_nulls_last, col("k").desc_nulls_first)
      .foreach { o =>
        val (onRows, _, onPlan) = withStrategy(on = true)(run(df.orderBy(o)))
        val (offRows, _, _) = withStrategy(on = false)(run(df.orderBy(o)))
        assert(collect(onPlan) { case s: SinglePartitionSortExec => s }.size == 1, onPlan)
        assert(onRows.map(_.toString) == offRows.map(_.toString), s"order $o")
        assert(onRows.size == keys.size)
      }
  }
}
