package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec,
  ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** Adaptive query-stage preparation rule: a shuffle the planner added
  * over input that is provably one small partition becomes
  * `CoalesceExec(1)` (docs/PLANS.md "One-partition exchanges").
  *
  * Every planner-added exchange (`ENSURE_REQUIREMENTS`; hash, range or
  * single partitioning) costs at least one Spark job: the map stage, and
  * for a range exchange a `RangePartitioner` sampling job too. Over a
  * dashboard's few-KB input that is all fixed cost. `SinglePartition`
  * satisfies every clustered and ordered distribution, so one partition
  * returns the same rows. The input counts as one small partition when
  * it reaches, through operators that add no rows (Project, Filter,
  * aggregates, a window, a window group limit, a local Sort,
  * `Coalesce 1`, a shuffle read), either
  *  - a materialized query stage, not a reused exchange, whose runtime
  *    size is at most what `CoalesceShufflePartitions` packs into one
  *    partition; or
  *  - a file scan, not bucketed, of at most one split within the same
  *    size.
  * The scan evidence holds on the initial adaptive plan, so a query over
  * one-split scans runs as one stage and one job.
  *
  * The rewritten plan is kept only if Spark's `ValidateRequirements`
  * accepts it: a sort-merge join whose sides must be co-partitioned, or
  * an aggregate over a Union that passes its children's hash
  * partitioning up, would otherwise see one partition beside n. A
  * user's `repartition(n)` keeps its n partitions, sessions with
  * partition coalescing off keep every exchange, and stream
  * micro-batches run without AQE and never see the rule. */
case class OnePartition(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val out = plan.transformUp {
        case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _) if onePartition(child) =>
          CoalesceExec(1, child)
      }
      if (ValidateRequirements.validate(out)) out else plan
    }

  /** True when `p` is provably one partition of at most [[onePartitionBytes]]. */
  private def onePartition(p: SparkPlan): Boolean = p match {
    case s: QueryStageExec =>
      s.isMaterialized && !s.plan.isInstanceOf[ReusedExchangeExec] &&
        s.getRuntimeStatistics.sizeInBytes <= onePartitionBytes
    case s: FileSourceScanExec => oneSplit(s)
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
         _: WindowGroupLimitExec | _: AQEShuffleReadExec =>
      onePartition(p.children.head)
    case s: SortExec if !s.global => onePartition(s.child)
    case c: CoalesceExec if c.numPartitions == 1 => onePartition(c.child)
    case _ => false
  }

  /** A scan Spark reads as at most one split of at most
    * [[onePartitionBytes]], decided with Spark's split arithmetic
    * without building the scan's RDD: files no larger than
    * `maxSplitBytes` are not split, and `getFilePartitions` packs them
    * into one partition while their bytes plus an open cost per file
    * after the first fit in `maxSplitBytes`. The listing is the static
    * one, before any dynamic pruning, so it holds every file the scan
    * can read. */
  private def oneSplit(s: FileSourceScanExec): Boolean =
    !s.bucketedScan && s.relation.sizeInBytes <= onePartitionBytes && {
      val files = s.selectedPartitions
      files.totalFileSize + (files.totalNumberOfFiles - 1).max(0) * conf.filesOpenCostInBytes <=
        FilePartition.maxSplitBytes(session, files)
    }

  /** The largest input `CoalesceShufflePartitions` packs into one
    * partition: below `minPartitionSize` while it keeps a minimum
    * partition count (the default, `parallelismFirst`), below the
    * advisory size once it needs only one. */
  private def onePartitionBytes: Long = {
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        session.sparkContext.defaultParallelism
      else 1)
    if (minPartitions > 1) conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }
}

/** The physical rules every engine session carries
  * (`spark.sql.extensions`, set by [[graft.Sessions.engineConf]]). */
class EngineExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectQueryStagePrepRule(OnePartition(_))
}
