package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BaseLimitExec, CollectMetricsExec, FilterExec,
  ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort over a small,
  * already-measured input sorts on one partition.
  *
  * A global sort needs its input range-partitioned, and the
  * RangePartitioner computes its bounds with a sampling job before the
  * shuffle runs. For a result of a few KB AQE then coalesces the range
  * exchange's output into one partition anyway, so the sampling job is
  * pure fixed cost (one of the 3-4 jobs of most DuckDB-proxy keys). Once
  * the stages under the exchange have materialized, AQE re-plans with
  * their measured sizes; this rule then swaps the range exchange for a
  * single-partition one, which satisfies the sort's ordered
  * distribution, so the sort still sees every row and the output order
  * is unchanged. It fires only when:
  *   - the exchange is the one a global sort asked for (range
  *     partitioning, `ENSURE_REQUIREMENTS` origin), so a user's
  *     `repartitionByRange(n, …)` keeps its `n` partitions;
  *   - every leaf under it is a materialized query stage, and no
  *     operator between them and the exchange can emit more rows than
  *     it reads (joins, `Generate`, `Expand` and anything not listed in
  *     `rowBounded` stop it), so the stages' sizes bound its input;
  *   - those sizes sum to at most the size at which AQE's own coalescing
  *     yields one partition: `coalescePartitions.minPartitionSize` under
  *     `parallelismFirst`, else `advisoryPartitionSizeInBytes`; never
  *     when `coalescePartitions.enabled` is false.
  * A sort AQE would have kept parallel stays range-partitioned. */
case class SmallSort(session: SparkSession) extends Rule[SparkPlan] {
  override def conf: SQLConf = session.sessionState.conf

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    val onePartition =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if measuredBytes(child).exists(_ <= onePartition) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }

  /** The summed sizes of the materialized stages under `p`, or None when
    * a leaf is not one or an operator on the way is not `rowBounded`. */
  private def measuredBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec =>
      if (s.isMaterialized) Some(s.getRuntimeStatistics.sizeInBytes) else None
    case _ if rowBounded(p) =>
      p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        for (a <- acc; b <- measuredBytes(c)) yield a + b
      }
    case _ => None
  }

  /** Operators that emit at most as many rows as they read (a global
    * aggregate's one row over an empty input aside). */
  private def rowBounded(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: SortExec | _: BaseAggregateExec |
         _: WindowExecBase | _: WindowGroupLimitExec | _: BaseLimitExec |
         _: UnionExec | _: AQEShuffleReadExec | _: CollectMetricsExec => true
    case _ => false
  }
}
