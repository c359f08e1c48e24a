package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: dumps `explain("formatted")` for every registered query
  * plus mechanical scale indicators (exchange counts, broadcast usage,
  * pushed filters, codegen coverage) to a markdown report.
  *
  * Usage: runMain graft.PlanAudit <sfDir> <outFile> [<nameSubstring>]
  * The committed artifact (docs/PLANS.md) is the evidence trail for the
  * "would this plan survive 100×?" review — regenerate after operator
  * changes. Expression and exchange ids are renumbered per query
  * ([[canonicalIds]]), so a plan that did not change regenerates
  * byte-identically.
  */
object PlanAudit {

  /** Renumbers expression ids (`#123`) and exchange ids (`plan_id=45`)
    * from 0 in order of first appearance, each kind on its own, and masks
    * the two per-JVM tokens a plan can print: the local application id in
    * scratch paths and a lambda's class name and identity hash. The raw
    * ids come from session-wide counters, so without this every query
    * built earlier in the session shifts them.
    */
  def canonicalIds(plan: String): String = {
    val exprIds, planIds = mutable.Map[String, Int]()
    """#(\d+)|plan_id=(\d+)""".r.replaceAllIn(plan, m =>
      if (m.group(1) != null) "#" + exprIds.getOrElseUpdate(m.group(1), exprIds.size)
      else "plan_id=" + planIds.getOrElseUpdate(m.group(2), planIds.size))
      .replaceAll("""/local-\d+/""", "/local-APP/")
      .replaceAll("""\$Lambda\$?[\w/]*@[0-9a-f]+""", "\\$Lambda")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "docs/PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plan-audit")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false") // expose codegen ids
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of every registered query\n\n"
    sb ++= s"Generated by `graft.PlanAudit` on `$sfDir`. Indicators: " +
      "`Exchange` = shuffle boundary (each one is a full network pass at " +
      "100 TB), `BroadcastExchange` = replicated small side (good for dim " +
      "joins), `PushedFilters` = predicate reached the parquet scan, " +
      "codegen spans = compiled pipelines (AQE is disabled in this audit " +
      "session so codegen ids are visible; Verify/Bench run with AQE on). " +
      "Expression ids (`#N`) and exchange ids (`plan_id=N`) are renumbered " +
      "per query in order of first appearance; application ids and lambda " +
      "hashes are masked.\n\n" +
      "Every query ends in a global `orderBy` (outputs are compared row " +
      "by row, in order). Its plan follows one contract " +
      "(`graft.plans.SinglePartitionSortStrategy`): when the summed leaf " +
      "sizes of the sort's input are at most " +
      "`spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by " +
      "default) the sort runs in one partition behind a single-partition " +
      "exchange, added only if the input is not in one partition already; " +
      "above that size Spark's range partitioning (a sampling job, then a " +
      "range exchange) sorts in parallel. Either way the final sort is one " +
      "shuffle of the query's result, counted in the listed shuffles. The " +
      "one-partition sort runs Spark's `SortExec` outside whole-stage " +
      "codegen, so it adds no codegen span.\n\n"

    // optional builder-side filter (the Verify convention): audit only
    // queries whose name contains args(2) — full runs omit it
    val nameFilter = args.lift(2).getOrElse("")
    SparkEntry.queries.toSeq.filter(_._1.contains(nameFilter))
      .sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = canonicalIds(
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        // node-detail headers look like "(4) Exchange"; tree lines would
        // double-count. Codegen shows as "[codegen id : N]" annotations.
        val nShuffle = """\(\d+\) Exchange""".r.findAllIn(plan).size
        val nBroadcast = """\(\d+\) BroadcastExchange""".r.findAllIn(plan).size
        val nCodegen = """\[codegen id : (\d+)\]""".r
          .findAllMatchIn(plan).map(_.group(1)).toSet.size
        val pushed = plan.contains("PushedFilters: [") &&
          !plan.contains("PushedFilters: []")
        sb ++= s"## $name\n\n"
        sb ++= s"- shuffles: $nShuffle, broadcasts: $nBroadcast, " +
          s"codegen spans: $nCodegen, filter pushdown: ${if (pushed) "yes" else "n/a"}\n\n"
        sb ++= "```\n" + plan.trim + "\n```\n\n"
      } catch {
        case e: Throwable => sb ++= s"## $name\n\nFAILED: ${e.getMessage}\n\n"
      }
    }
    // a bare filename has a null getParent — resolve absolute first
    Option(Paths.get(outFile).toAbsolutePath.getParent)
      .foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plan-audit] wrote $outFile")
    spark.stop()
  }
}
