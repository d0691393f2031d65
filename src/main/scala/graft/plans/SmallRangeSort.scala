package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, LogicalQueryStage, Project}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Adaptive query-stage preparation rule: a global sort over an input that
  * AQE's partition coalescing would merge into ONE partition anyway gets a
  * one-partition range exchange from the start.
  *
  * Why: `RangePartitioner` samples its input to pick partition bounds —
  * one extra Spark job that computes the sort's input a second time — and
  * then `CoalesceShufflePartitions` folds the small range shuffle into a
  * single partition. Every engine query ends in a total order, so at
  * fixture scale every query paid that job for bounds it threw away. With
  * one partition the partitioner skips sampling: the job and the second
  * evaluation are gone, and the sort's output partitioning is the one
  * coalescing gives today.
  *
  * The rule rewrites `ShuffleExchangeExec(RangePartitioning(order, n > 1),
  * child, ENSURE_REQUIREMENTS, _)` to `RangePartitioning(order, 1)` when
  * the logical size of `child` is at most `onePartitionBytes`, and only
  * when that size means something:
  *   - a runtime size: the child's logical subtree contains query stages,
  *     all materialized (AQE re-plans after each stage, so the exchange is
  *     decided again on measured sizes before it becomes a stage itself);
  *   - or a file size: the subtree is a `Project`/`Filter` chain over one
  *     file relation.
  * Any other estimate (a join or aggregate not yet run) leaves the exchange
  * alone. Left unchanged by construction:
  *   - `repartitionByRange(n)`: its origin is `REPARTITION_BY_NUM`, so a
  *     z-order layout keeps its file count ([[graft.operators.Layout]]);
  *   - a sort with a limit: `TakeOrderedAndProject` has no range exchange;
  *   - sessions with AQE off, and with coalescing off: prep rules do not
  *     run without AQE, and without coalescing nothing would merge.
  */
object SmallRangeSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case s @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && child.logicalLink.exists(fitsOnePartition) =>
        s.copy(outputPartitioning = RangePartitioning(order, 1))
    }

  /** The input size `CoalesceShufflePartitions` always merges into one
    * partition. Its target size is `min(advisory, total / minPartitionNum)`
    * raised to `minPartitionSize`. Under `parallelismFirst` (the default)
    * an unset `minPartitionNum` is the default parallelism, so only an
    * input of at most `minPartitionSize` is one partition on every
    * cluster. With a `minPartitionNum` of 1, an input of at most the larger
    * of the two sizes is one partition.
    */
  private def onePartitionBytes(conf: SQLConf): Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val oneMinPartition = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM) match {
      case Some(n) => n <= 1
      case None => !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)
    }
    if (oneMinPartition)
      math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    else minSize
  }

  private def fitsOnePartition(p: LogicalPlan): Boolean =
    measured(p) && p.stats.sizeInBytes <= onePartitionBytes(conf)

  private def measured(p: LogicalPlan): Boolean = {
    val stages = p.collect { case s: LogicalQueryStage => s }
    if (stages.nonEmpty) stages.forall(_.isMaterialized) else fileScan(p)
  }

  private def fileScan(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => fileScan(c)
    case Filter(_, c) => fileScan(c)
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }
}
