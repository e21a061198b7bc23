package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort at ONE range partition.
  *
  * A global `orderBy` plans `RangePartitioning(order,
  * spark.sql.shuffle.partitions)`, and a `RangePartitioner` with more
  * than one partition runs a sampling job over the sort's whole input
  * to pick its bounds: a second computation of everything beneath the
  * sort (for a text query, the tokenization), only for AQE to coalesce
  * the tiny result back to one partition afterwards. This AQE
  * query-stage-prep rule (registered in
  * [[graft.functions.GraftExtensions]]) plans such an exchange at one
  * partition up front when its input is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`: the size
  * at or below which AQE's own coalescing already folds it to one
  * partition. A one-partition `RangePartitioner` samples nothing.
  *
  * The size is the child's logical `stats.sizeInBytes`, the estimate
  * broadcast selection uses; under AQE re-planning the child of a sort
  * over a materialized stage is costed from that stage's runtime
  * statistics, so the estimate is exact there. The result is the same
  * sorted sequence: one range partition holds, in order, what the n
  * partitions would hold in turn (rows that tie on the sort key land in
  * one partition either way).
  *
  * Left as planned: AQE or partition coalescing off (the user asked for
  * the configured partition count), exchanges a user placed
  * (`repartitionByRange`: a file layout, not a sort), and children
  * without a logical link (no estimate). */
object SmallSortPartitioning extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) plan
    else {
      val minSize = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      plan.transformUp {
        case s @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
            if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= minSize) =>
          s.copy(outputPartitioning = RangePartitioning(order, 1))
      }
    }
}
