package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy for small global sorts: sort them in one partition.
  *
  * Spark plans every global `Sort` as a range exchange plus per-partition
  * sorts. When the sort's input spans several partitions, the exchange's
  * `RangePartitioner` first runs a sampling job over that input to pick
  * its bounds, so the input's whole last stage is computed twice: once for
  * the sample, once for the exchange's map side. For a small final result
  * that extra job is pure coordination cost.
  *
  * Size contract: the strategy sums `stats.sizeInBytes` over the LEAVES of
  * the sort's input. Under AQE those leaves are the materialized query
  * stages (runtime sizes) plus any scan still inside the final stage; the
  * re-plan at which the sort's exchange becomes a stage is the one that
  * decides, and by then its inputs are materialized. `child.stats` is not
  * used: Catalyst's size-only estimate multiplies join input sizes (q142
  * once read 2.7e24 bytes for an 8.4 MB input). Up to
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by default)
  * the sort runs in one partition; above it the strategy declines and
  * Spark's range path plans the sort, so large sorts stay parallel. A
  * small input whose joins explode into a large output gets a slower
  * one-task sort, but the result is still correct, and the sort still
  * spills when it must. Streaming plans are never touched.
  *
  * Installed once per session by `SparkEntry.queries` ([[installStrategy]]).
  */
object SinglePartitionSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !plan.isStreaming && leafBytes(child) <=
        SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
      SinglePartitionSortExec(order, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Summed leaf sizes: input bytes, not the estimated output of the tree. */
  private[graft] def leafBytes(plan: LogicalPlan): BigInt =
    plan.collectLeaves().map(_.stats.sizeInBytes).sum
}

/** A global sort in one partition. Its child distribution is `AllTuples`,
  * so `EnsureRequirements` adds a single-partition exchange only when the
  * input is not in one partition already, and that exchange needs no
  * sampled bounds. The work itself is Spark's own non-global `SortExec`
  * (same comparator, memory accounting and spilling), whose metrics this
  * node reports.
  */
case class SinglePartitionSortExec(sortOrder: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {
  @transient private lazy val sort = SortExec(sortOrder, global = false, child)

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = SinglePartition
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override lazy val metrics: Map[String, SQLMetric] = sort.metrics

  override protected def doExecute(): RDD[InternalRow] = sort.execute()

  override protected def withNewChildInternal(newChild: SparkPlan): SinglePartitionSortExec =
    copy(child = newChild)
}
