package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/**
 * AQE query-stage preparation rule: a global sort whose input is small
 * enough that AQE would coalesce its range shuffle into one partition
 * anyway gets a single-partition shuffle instead.
 *
 * Spark plans a global sort as `RangePartitioning(n)` under `SortExec`.
 * Before that shuffle runs, its `RangePartitioner` samples the input with a
 * job of its own, and that job reads every row of every input partition:
 * the whole narrow pipeline under the sort (a tokenizer, a DP projection)
 * runs twice. When the result is small, `CoalesceShufflePartitions` then
 * merges the n range partitions into one. This rule makes that layout up
 * front: `ShuffleExchangeExec(SinglePartition)`, no sampling job, no second
 * pass. The final layout is unchanged, so are the rows and their order.
 *
 * It fires only on the exchange `EnsureRequirements` inserted for a global
 * sort (`repartitionByRange` keeps its n partitions), and only when
 *  - coalescing is on, and the child's estimated size is at or under the
 *    size at which `CoalesceShufflePartitions` yields one partition under
 *    the session's settings: `coalescePartitions.minPartitionSize` when
 *    `coalescePartitions.parallelismFirst` is on (the default), else the
 *    larger of it and `advisoryPartitionSizeInBytes`;
 *  - the child's logical plan has no `Generate` in front of a materialized
 *    stage: an explode's row growth is not in the estimate, while a
 *    `LogicalQueryStage` is a leaf whose runtime size is trusted.
 * AQE re-applies the rule at every re-plan, on runtime sizes. Registered
 * via [[GraftExtensions]].
 */
object SmallGlobalSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = onePartitionBytes.fold(plan) { bound =>
    plan.transformUp {
      case sort @ SortExec(_, true,
          shuffle @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _), _)
          if n > 1 && child.logicalLink.exists(small(_, bound)) =>
        sort.withNewChildren(Seq(shuffle.copy(outputPartitioning = SinglePartition)))
    }
  }

  /** The shuffle size at or under which `CoalesceShufflePartitions` makes
    * one partition; None when it does not run. */
  private def onePartitionBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else {
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      Some(if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
        else minSize max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    }

  private def small(plan: LogicalPlan, bound: Long): Boolean =
    !plan.exists(_.isInstanceOf[Generate]) && plan.stats.sizeInBytes <= bound
}
