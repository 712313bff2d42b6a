package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}

/** Optimizer rule: sort a global ORDER BY whose input is provably small
  * in one partition.
  *
  * Spark plans every global `Sort` over a range exchange. Its
  * `RangePartitioner` first runs a sampling job over the sort's input,
  * and then the shuffle map stage computes that input a second time:
  * on a few-KB input the two extra jobs cost far more than the sort.
  * Over `Repartition(1, shuffle = false)` the sort's child plans as a
  * `CoalesceExec(1)`, whose `SinglePartition` output already satisfies
  * the sort's distribution, so no exchange is inserted and a sort
  * straight over a scan runs as one job.
  *
  * Bound: the sort's input `stats.sizeInBytes` is at most
  * `spark.sql.autoBroadcastJoinThreshold`, the size up to which Spark
  * already sends a whole join side to one task; a threshold ≤ 0 turns
  * the rule off. That estimate bounds what the one task sorts only if
  * nothing between the sort and its leaves can add rows, so every node
  * on the way down must be a `Project`, `Filter` or `SubqueryAlias`
  * with deterministic expressions, ending at a leaf (a relation,
  * `LocalRelation`, `LogicalRDD`, AQE's `LogicalQueryStage`). A join,
  * `Generate`, `Expand` or any other operator keeps the range exchange.
  * So does an `Aggregate` at planning: the one-partition coalesce would
  * also pull the final aggregation into its single task, and the
  * estimate of the aggregate's input does not bound that work. Once the
  * aggregate's shuffle stage has run, AQE re-optimizes with the stage
  * as a `LogicalQueryStage` leaf sized by the bytes it wrote, which do.
  *
  * Left alone: a sort under a limit, offset or tail (directly or
  * through projections), which Spark plans as `TakeOrderedAndProject`;
  * streaming plans; local sorts; a sort whose child is already a
  * repartition, which keeps the rule idempotent in a fixed-point batch;
  * and, under AQE, a sort whose own range exchange has already run (an
  * input sized only at runtime, such as a `LogicalRDD`): its sampling
  * job and second pass are spent, and one task would only redo the
  * sort the range partitions split.
  *
  * [[graft.GraftExtensions]] injects it twice: as an optimizer rule,
  * where leaf sizes come from file sizes at planning (a sort over a
  * scan), and as an AQE runtime rule, where a finished stage's
  * `LogicalQueryStage` carries its measured size (a sort over an
  * aggregate, including one of a join).
  */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || conf.autoBroadcastJoinThreshold <= 0) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => plan.mapChildren(underLimit)
    case s @ Sort(_, true, child, _) if !child.isInstanceOf[RepartitionOperation] &&
        !rangeShuffled(child) && cannotAddRows(child) &&
        child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold =>
      s.copy(child = Repartition(1, shuffle = false, rewrite(child)))
    case _ => plan.mapChildren(rewrite)
  }

  /** The sort a limit reaches through projections is the limit's own. */
  private def underLimit(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail | _: Project =>
      plan.mapChildren(underLimit)
    case s: Sort => s.mapChildren(rewrite)
    case _ => rewrite(plan)
  }

  private def rangeShuffled(plan: LogicalPlan): Boolean = plan match {
    case q: LogicalQueryStage => q.physicalPlan.exists {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _ => false
  }

  private def cannotAddRows(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: SubqueryAlias =>
      plan.expressions.forall(_.deterministic) && cannotAddRows(plan.children.head)
    case _ => false
  }
}
