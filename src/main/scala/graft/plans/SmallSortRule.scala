package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ExpandExec, GenerateExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage prep rule (injected by [[graft.GraftExtensions]]): sorts
  * a small global ORDER BY in one task instead of range-partitioning it.
  *
  * EnsureRequirements puts `Exchange rangepartitioning` under every global
  * sort. Its RangePartitioner first runs a sampling job that re-executes the
  * sort's input, then a range-shuffle map stage. AQE's partition coalescing
  * then reads that shuffle as one partition when its bytes stay under 1.2×
  * its target size (ShufflePartitionsUtil merges a last partition into the
  * previous one below that). The target is
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` under
  * `parallelismFirst` (the default; above it AQE keeps about
  * defaultParallelism partitions), otherwise the larger of that and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. Below that size the
  * rule replaces the range exchange:
  *
  *  - exact: the input is a chain of unary, non-generating operators over
  *    one materialized ENSURE_REQUIREMENTS shuffle stage whose map output
  *    fits → `CoalesceExec(1)`. That stage would be read as one partition
  *    anyway, so the sort runs in its reduce task; no job is added.
  *  - estimate: otherwise, the input's logical size estimate fits → a
  *    single-partition shuffle. Upstream parallelism is kept; only the
  *    sampling job goes.
  *
  * Exchanges whose origin is not ENSURE_REQUIREMENTS (`repartitionByRange`,
  * user repartitions) are never touched, and `CoalesceExec` never lands over
  * a scan, a join, a generator or a stage a user sized, so those keep their
  * tasks. With partition coalescing off the rule does nothing. A
  * `LogicalRDD` input carries no size estimate and keeps its range exchange.
  */
object SmallSortRule extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) return plan
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val target =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
      else minSize.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val onePartition = (target * 1.2).toLong
    plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _) =>
        if (stageBytes(child).exists(_ <= onePartition))
          s.withNewChildren(Seq(CoalesceExec(1, child)))
        else if (child.logicalLink.exists(_.stats.sizeInBytes <= onePartition))
          s.withNewChildren(Seq(ShuffleExchangeExec(SinglePartition, child)))
        else s
    }
  }

  /** Map-output bytes of the one materialized ENSURE_REQUIREMENTS shuffle
    * stage under a chain of unary operators that do not multiply rows. */
  private def stageBytes(plan: SparkPlan): Option[Long] = plan match {
    case q: ShuffleQueryStageExec =>
      if (q.isMaterialized && q.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS)
        Some(q.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
      else None
    case _: GenerateExec | _: ExpandExec => None
    case u: UnaryExecNode => stageBytes(u.child)
    case _ => None
  }
}
