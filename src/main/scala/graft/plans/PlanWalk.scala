package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Shared executed-plan reading for scale-shape assertions (used by the
  * plan-gating specs and `graft.ProfJobs`: one copy, so the checks can't
  * drift). [[finalPlan]] is the one reader of a frame's plan. `walk`
  * crosses AQE boundaries (AdaptiveSparkPlanExec, query stages, reused
  * exchanges and subqueries), which plain `children` recursion does not:
  * a materialized shuffle stage is a LEAF whose real subtree hangs off
  * `plan`, and a reused exchange is a LEAF over the exchange it reuses.
  */
object PlanWalk {

  /** The plan `df` ran: runs `df`'s own plan to completion
    * (`queryExecution.toRdd.count()`) and returns its executed plan,
    * under AQE the final one (`isFinalPlan=true`, without the adaptive
    * wrapper and its initial plan). `df.count()` would run a separate
    * aggregate plan and leave `df`'s adaptive plan as planned before
    * run-time re-optimization, so its exchanges and join strategies are
    * not the ones that ran.
    */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        if (!a.isFinalPlan) throw new IllegalStateException(s"not AQE's final plan:\n$a")
        a.executedPlan
      case p => p
    }
  }

  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(walk)) ++ p.subqueries.flatMap(walk) ++
      extra.flatMap(walk)
  }

  /** Does any node at-or-below `p` aggregate? (crosses AQE stages) */
  def hasAggBelow(p: SparkPlan): Boolean = walk(p).exists(
    _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])

  /** Partitionless windows over UNAGGREGATED input — the single-task
    * scale-killer pattern. Windows above an aggregate (reduced input,
    * the Packing bucket-totals shape) are tolerated.
    */
  def badPartitionlessWindows(root: SparkPlan): Seq[SparkPlan] =
    walk(root).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty && !hasAggBelow(w) => w
    }

  /** Distinct shuffle exchanges in an executed plan — the per-query
    * shuffle budget (every Exchange is a full rewrite of the data over
    * the network; at 100 TB an extra one is the difference between a
    * 2-stage and 3-stage job). Distinct by node identity: AQE reuse
    * (ReusedExchangeExec / shared query stages) re-surfaces the SAME
    * exchange instance, which ran once and must count once.
    */
  def shuffleExchangeCount(root: SparkPlan): Int =
    walk(root).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.map(System.identityHashCode).distinct.size

  /** The 100 TB shape gate, on an EXECUTED plan: no CartesianProduct
    * ever; BroadcastNestedLoopJoin only where the operator broadcasts a
    * designed small side (query batch / centroids / 1-row stats);
    * no partitionless window over raw (unaggregated) rows. Shared by
    * PlanGateSpec and the operator specs so the checks can't drift.
    */
  def assertShapes(op: String, root: SparkPlan,
      allowBroadcastNlj: Boolean): Unit = {
    val nodes = walk(root)
    val cartesian = nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    require(!cartesian, s"$op: CartesianProduct in executed plan")
    if (!allowBroadcastNlj) {
      val nlj = nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      require(!nlj, s"$op: BroadcastNestedLoopJoin in executed plan")
    }
    val bad = badPartitionlessWindows(root)
    require(bad.isEmpty,
      s"$op: partitionless WindowExec over raw input:\n${bad.mkString("\n")}")
  }
}
