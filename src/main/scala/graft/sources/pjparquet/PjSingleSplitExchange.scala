package graft.sources.pjparquet

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, LocalLimitExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** AQE query-stage prep rule: drop the `Exchange SinglePartition` that
  * `EnsureRequirements` puts under a global aggregate, limit or window
  * when the subtree below it reads exactly one pjparquet split.
  *
  * A DSv2 scan reports `UnknownPartitioning` whatever its split count, so
  * a read the index planned into one split still runs as two stages: the
  * scan's stage, then the exchange's, each its own AQE job. One split is
  * already one partition; without the exchange the consumer reads it
  * directly and the whole read is one result stage with one task.
  *
  * The exchange goes only when:
  *  - Spark added it for a distribution requirement (`ENSURE_REQUIREMENTS`),
  *    so a user's `repartition(1)` stays;
  *  - every node between it and the scan keeps the partition as it is:
  *    project, filter, local limit, partial aggregate;
  *  - the scan is a [[PjScan]] without runtime filters or key grouping
  *    that planned EXACTLY one split. With 0 splits the scan has no
  *    partition at all, and a global `count(*)` over it must still return
  *    one row — the exchange supplies that empty partition. A runtime
  *    filter could re-plan one split into 0 at execution.
  *
  * Reading the split count here plans the scan earlier, not twice: a
  * [[PjScan]] keeps its planned splits for every copy of its scan node.
  */
object PjSingleSplitExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition && e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          readsOneSplit(e.child) =>
      e.child
  }

  @scala.annotation.tailrec
  private def readsOneSplit(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: LocalLimitExec => readsOneSplit(p.children.head)
    case a: BaseAggregateExec
        if a.requiredChildDistributionExpressions.isEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) =>
      readsOneSplit(a.child)
    case b: BatchScanExec =>
      b.scan.isInstanceOf[PjScan] && b.runtimeFilters.isEmpty &&
        b.keyGroupedPartitioning.isEmpty && b.inputPartitions.length == 1
    case _ => false
  }
}
