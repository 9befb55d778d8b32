package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LogicalPlan, Project, RepartitionOperation, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: sinks a global ORDER BY below the chain of per-row
  * projections it sits on,
  *
  *   Sort(keys, global, Project…(child))  →  Project…(Sort(keys, global, child))
  *
  * so a heavy projection (regex scoring, tokenization, PII scans) runs
  * ONCE, after the sort. Over the projection, the sort's range exchange
  * runs its whole child twice: once to sample keys for the
  * RangePartitioner, once to write the shuffle. Below it, both passes
  * read only the cheap input columns. Values and order are unchanged: a
  * deterministic projection of pass-through sort keys commutes with the
  * sort. The sunk sort sits directly on the chain's input; the planner
  * adds its ordinary range exchange, and the projection runs on as many
  * post-sort tasks as AQE keeps — the session's partition-size floor
  * (GraftSession.tune) decides that width, as for every other shuffle.
  *
  * Trade-off: the sort shuffle now carries the projection's INPUT
  * columns instead of its outputs (text instead of scores) — wider
  * shuffle writes for one evaluation of the projection instead of two.
  *
  * Fires only when
  *  - every sort key is an Attribute passed through unchanged by every
  *    Project of the chain and present in the chain's input;
  *  - every projected expression is deterministic (a nondeterministic
  *    one would see other partitions and row order after the sort);
  *  - some projected expression is non-trivial (not an Attribute, nor
  *    an Alias of an Attribute or Literal) — ColumnPruning leaves
  *    attribute-only Projects under a Sort, and sinking past those would
  *    ping-pong with it;
  *  - the chain does not sit on a repartition: there the projection was
  *    deliberately spread over N round-robin tasks before the sort
  *    (Frames.fan);
  *  - under a limit, the chain is a single Project directly below it
  *    (see [[sink]]).
  */
object SortBelowProjectRule extends Rule[LogicalPlan] {

  /** The run of Projects directly under a Sort, top first, and the plan
    * below the last of them. */
  private def projects(p: LogicalPlan): (List[Project], LogicalPlan) = p match {
    case pr: Project =>
      val (rest, base) = projects(pr.child)
      (pr :: rest, base)
    case other => (Nil, other)
  }

  private[graft] def trivial(e: NamedExpression): Boolean = e match {
    case _: Attribute => true
    case Alias(_: Attribute | _: Literal, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = sink(plan, None)

  /** Bottom-up rewrite; `limit` counts the Projects between `plan` and
    * the LocalLimit above it, if there is one. The planner fuses a limit
    * over a global Sort into TakeOrderedAndProject — which neither
    * samples nor shuffles, so has no double evaluation to save — only
    * through at most ONE Project. Under a limit the rule therefore sinks
    * only into a single-Project chain, where it still pays: the fused
    * projection then runs on the k kept rows alone. */
  private def sink(plan: LogicalPlan, limit: Option[Int]): LogicalPlan = {
    val childLimit = plan match {
      case _: LocalLimit => Some(0)
      case _: Project => limit.map(_ + 1)
      case _ => None
    }
    plan.mapChildren(sink(_, childLimit)) match {
      case s: Sort if s.global && s.child.isInstanceOf[Project] =>
        val (chain, base) = projects(s.child)
        val passThrough = s.order.forall(_.child match {
          case k: Attribute =>
            base.outputSet.contains(k) && chain.forall(p =>
              AttributeSet(p.projectList.collect { case a: Attribute => a }).contains(k))
          case _ => false
        })
        val exprs = chain.flatMap(_.projectList)
        if (passThrough && !base.isInstanceOf[RepartitionOperation] &&
            exprs.forall(_.deterministic) && !exprs.forall(trivial) &&
            limit.forall(_ + chain.size == 1))
          chain.foldRight(s.copy(child = base): LogicalPlan)((p, c) => p.copy(child = c))
        else s
      case other => other
    }
  }
}
