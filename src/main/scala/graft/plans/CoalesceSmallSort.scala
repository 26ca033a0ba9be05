package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Runs a small global sort in one task. The range exchange under a
  * global sort costs a `RangePartitioner` sampling job and a shuffle,
  * even when AQE's coalescing then reads the whole shuffle as one
  * partition. When the sort's input is no larger than that one-partition
  * size (`coalescePartitions.minPartitionSize` when `parallelismFirst`
  * is on, else `advisoryPartitionSizeInBytes`), the exchange becomes
  * `CoalesceExec(1)`: one task sorts the input, no sampling job, no
  * shuffle.
  *
  * A query-stage preparation rule: AQE runs it after EnsureRequirements
  * on the initial plan and on every re-plan. On a re-plan the input size
  * is the measured size of the finished stages; on the initial plan it
  * is the estimate broadcast selection uses (a product for a join, so a
  * join's sort only collapses once its stage has run). Declines when the
  * input has no logical link or any nondeterministic expression (one
  * task changes `monotonically_increasing_id`/`spark_partition_id`).
  * User range partitioning (`repartitionByRange`) keeps its exchange: its
  * origin is not ENSURE_REQUIREMENTS.
  */
object CoalesceSmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if fitsOnePartition(child) && !child.exists(_.expressions.exists(!_.deterministic)) =>
      CoalesceExec(1, child)
  }

  private def fitsOnePartition(child: SparkPlan): Boolean = {
    val conf = SQLConf.get
    val onePartition =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    conf.coalesceShufflePartitionsEnabled &&
      child.logicalLink.exists(_.stats.sizeInBytes <= onePartition)
  }
}
