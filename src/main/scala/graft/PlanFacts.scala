package graft

import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Generate, GlobalLimit, Join, LocalLimit, LocalRelation,
  LogicalPlan, OneRowRelation, Union, Window}
import org.apache.spark.sql.execution.{
  ExpandExec, GenerateExec, QueryExecution, SparkPlan, UnionExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{
  BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec,
  ShuffledHashJoinExec, SortMergeJoinExec}

/** The scale-posture facts of one query's plans, read by one typed walk —
  * the single source for PLANS.md (`PlanAudit`), the posture rules and the
  * plan-drift budgets.
  *
  * Physical facts walk the given plan and descend into
  * `AdaptiveSparkPlanExec` (its current plan: the final one once the
  * query ran, never the "Initial Plan" AQE also prints) and into every
  * `QueryStageExec.plan`. A `ReusedExchangeExec` counts as nothing and is
  * not descended: it re-reads the output of an exchange counted where it
  * first appears. The walk does not descend into `InMemoryRelation`
  * caches or subquery plans; each cached frame's plan is its builder's.
  *
  * @param exchanges shuffle exchanges (broadcast exchanges are not shuffles)
  * @param broadcastJoins broadcast hash and broadcast nested-loop joins
  * @param sortMergeJoins sort-merge joins
  * @param cartesians cartesian products
  * @param codegenSpans whole-stage-codegen stages
  * @param globalWindows the input node of each logical `Window` with no
  *   partition key over an input that is not provably bounded — a global
  *   window single-tasks at 100 TB
  * @param oneRowShuffledJoins each shuffled join (sort-merge or
  *   shuffled-hash) with a provably one-row side, which should broadcast
  */
final case class PlanFacts(exchanges: Int, broadcastJoins: Int,
    sortMergeJoins: Int, cartesians: Int, codegenSpans: Int,
    globalWindows: Seq[String], oneRowShuffledJoins: Seq[String])

object PlanFacts {

  def apply(physical: SparkPlan, logical: LogicalPlan): PlanFacts = {
    val ops = nodes(physical)
    def n(pf: PartialFunction[SparkPlan, Any]) = ops.count(pf.isDefinedAt)
    PlanFacts(
      exchanges = n { case _: ShuffleExchangeExec => },
      broadcastJoins = n {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => },
      sortMergeJoins = n { case _: SortMergeJoinExec => },
      cartesians = n { case _: CartesianProductExec => },
      codegenSpans = n { case _: WholeStageCodegenExec => },
      globalWindows = logical.collect {
        case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
          w.child.nodeName
      },
      oneRowShuffledJoins = ops.collect {
        case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec)
            if j.children.exists(oneRow) => j.nodeName
      })
  }

  /** Facts of the physical plan as it stands: AQE's final plan once the
    * query has executed. */
  def executed(qe: QueryExecution): PlanFacts =
    apply(qe.executedPlan, qe.optimizedPlan)

  /** Facts of AQE's `initialPlan`: after EnsureRequirements inserted the
    * shuffle exchanges, before any runtime re-plan, so they are fixed for
    * fixed code, data and confs. */
  def initial(qe: QueryExecution): PlanFacts = {
    val p = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    apply(p, qe.optimizedPlan)
  }

  /** Every operator of `p`, through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Subtree provably produces a bounded (small-constant) row count. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case _: Generate => false // explode expands rows
    case u if u.children.size == 1 => bounded(u.children.head)
    case _ => false
  }

  /** Physical subtree provably produces at most one row (global agg,
    * carried through row-preserving unary operators). */
  private def oneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: GenerateExec | _: ExpandExec | _: UnionExec => false
    case u if u.children.size == 1 => oneRow(u.children.head)
    case _ => false
  }
}
