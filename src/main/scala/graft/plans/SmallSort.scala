package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** Adaptive query-stage preparation rule: a global sort whose input is
  * already materialized and fits in one partition sorts in one task
  * instead of behind a range shuffle (docs/PLANS.md "Small global
  * sorts").
  *
  * A global `ORDER BY` plans as `Sort ← Exchange rangepartitioning`.
  * The exchange costs two Spark jobs: the `RangePartitioner` sampling
  * job and the shuffle itself. Over a dashboard's few-KB aggregate
  * both are pure fixed cost. AQE re-plans after each stage completes;
  * at that point the exchange's input size is known, and when it is at
  * most what `CoalesceShufflePartitions` would pack into one partition
  * anyway, the exchange becomes `CoalesceExec(1)`. `SinglePartition`
  * satisfies the sort's `OrderedDistribution`, so the order is the
  * same.
  *
  * Fires only on
  *  - an exchange the planner added for a sort (`ENSURE_REQUIREMENTS`);
  *    a user's `repartitionByRange(n, …)` keeps its n partitions;
  *  - input that is one materialized query stage, reached through
  *    operators that cannot add rows (Project, Filter, aggregates, a
  *    window, a window group limit, a local Sort, a shuffle read); a
  *    join, a Generate or an Expand on the path keeps the exchange;
  *  - sessions with partition coalescing on.
  * Before execution no stage is materialized, so a plan printed before
  * it runs still shows the range exchange; stream micro-batches run
  * without AQE and never see the rule. */
case class SmallSort(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && stageBytes(child).exists(_ <= onePartitionBytes) =>
        CoalesceExec(1, child)
    }

  /** The runtime size of the one materialized stage `p` reads, if `p`
    * reaches it only through operators that cannot add rows. */
  private def stageBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec if s.isMaterialized => Some(s.getRuntimeStatistics.sizeInBytes)
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
         _: WindowGroupLimitExec | _: AQEShuffleReadExec =>
      stageBytes(p.children.head)
    case s: SortExec if !s.global => stageBytes(s.child)
    case _ => None
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
    e.injectQueryStagePrepRule(SmallSort(_))
}
