package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}

/** The one place the specs unwrap a physical plan. `nodes` is every node
  * of the plan: AQE's current plan, its query stages, the plan of each
  * cached relation under every scan that reads it, and its subqueries.
  * It does not enter a reused exchange or subquery, whose subtree is
  * counted where it first runs.
  */
object Plans {

  def nodes(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)

  def nodes(plan: SparkPlan): Seq[SparkPlan] = walk(plan, initial = false)

  /** The same walk over AQE's initial plans: what the planner chose
    * before any runtime re-optimisation (hints, static join strategies). */
  def initialNodes(df: DataFrame): Seq[SparkPlan] =
    walk(df.queryExecution.executedPlan, initial = true)

  /** The initial and the current plan together: a node a spec forbids
    * must be in neither, once AQE has run the query. */
  def everNodes(df: DataFrame): Seq[SparkPlan] = nodes(df) ++ initialNodes(df)

  private def walk(p: SparkPlan, initial: Boolean): Seq[SparkPlan] = {
    val wrapped = p match {
      case a: AdaptiveSparkPlanExec => Seq(if (initial) a.initialPlan else a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (wrapped ++ p.children ++ p.subqueries).flatMap(walk(_, initial))
  }

  // Node classes the specs forbid or count as groups.

  def isJoin(p: SparkPlan): Boolean = p.isInstanceOf[BaseJoinExec]

  /** A cartesian product or a nested-loop join: every pair of rows. */
  def isAllPairs(p: SparkPlan): Boolean =
    p.isInstanceOf[CartesianProductExec] || p.isInstanceOf[BroadcastNestedLoopJoinExec]

  def isWindow(p: SparkPlan): Boolean =
    p.isInstanceOf[WindowExecBase] || p.isInstanceOf[WindowGroupLimitExec]

  /** A shuffle or broadcast exchange, or a reuse of one. */
  def isExchange(p: SparkPlan): Boolean =
    p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]

  def isHashAggregate(p: SparkPlan): Boolean =
    p.isInstanceOf[HashAggregateExec] || p.isInstanceOf[ObjectHashAggregateExec]
}
