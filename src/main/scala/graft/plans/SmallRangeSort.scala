package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over a small, already-shuffled input ranges into one
  * partition. An `orderBy` plans a range exchange of N partitions, and
  * Spark's `RangePartitioner` runs a sampling job over the exchange's
  * child to find the N - 1 bounds before the shuffle runs the child again.
  * When the child reads only materialized shuffle stages, through
  * operators that never add rows, and those stages wrote at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes, AQE
  * would coalesce the range shuffle's output to one partition anyway; with
  * one partition planned up front the partitioner needs no bounds and the
  * sampling job goes. A query-stage preparation rule, so it sees the
  * stages AQE has materialized when it re-plans.
  *
  * Unchanged: a user's `repartitionByRange` (not an ENSURE_REQUIREMENTS
  * exchange), a sort whose input is still unshuffled (a scan), and inputs
  * above the bound. The result stays a `RangePartitioning`, not a
  * `SinglePartition`, so a bounded one-partition sort can be told apart
  * from a global one over unbounded input.
  */
object SmallRangeSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && stageBytes(child).exists(
            _ <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)) =>
        e.copy(outputPartitioning = RangePartitioning(order, 1))
    }

  /** Map-output bytes of the materialized shuffle stages `p` reads; None
    * when it reads anything else or goes through an operator that can add
    * rows (a join, an explode, a union). */
  private def stageBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec =>
      if (s.isMaterialized) s.mapStats.map(_.bytesByPartitionId.sum) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExecBase |
         _: WindowGroupLimitExec | _: SortExec | _: AQEShuffleReadExec =>
      p.children.map(stageBytes).foldLeft(Option(0L)) {
        case (Some(a), Some(b)) => Some(a + b)
        case _ => None
      }
    case _ => None
  }
}
