package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit, LocalRelation, LogicalPlan, Project, RepartitionByExpression, Sort, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** One range exchange for a window followed by an ORDER BY on its
  * partition keys. Spark plans `ORDER BY k, …` over `OVER (PARTITION BY
  * k …)` as two shuffles: a hash exchange on `k` for the window, then a
  * range exchange for the sort, whose bound-sampling job re-runs the
  * whole sort + window stage. A range exchange on the sort's leading
  * partition keys, placed directly under the window, satisfies both: its
  * partitioning clusters every `k` (the window's distribution) and orders
  * the partitions by the sort prefix (the sort's distribution). The
  * second exchange disappears and the sample scans the window's input
  * instead of re-running the window.
  *
  * Fires on a global `Sort` over deterministic `Project`/`Filter` nodes
  * over a `Window` when
  *  - the Sort's leading keys map, through the Projects' aliases, to
  *    attributes of the window's partition spec, and cover all of it (the
  *    range exchange uses that prefix, with the Sort's own directions and
  *    null orders, so it spreads rows over as many keys as the window's
  *    hash exchange would);
  *  - the window's input is a scan pipeline: `Project`/`Filter` down to a
  *    file or local relation, or to a `Union` with at least one such
  *    branch. That input carries no partitioning, so the window shuffles
  *    anyway and the rule only moves the shuffle.
  * It leaves the plan alone under a `WindowGroupLimit` (its pre-shuffle
  * cut is worth more than the exchange: `q_limit_by` went from 450 to
  * 640 ms with it, sf0.1 on a 4-core host), where the window input is
  * an Aggregate or Join, whose output partitioning the window already
  * reuses (no job saved), and where the Sort feeds a LIMIT (a top-k sort
  * has no range exchange).
  */
object RangeWindowSort {

  object SortRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      // a Sort under a limit plans as TakeOrderedAndProject, with no range
      // exchange to save: a range exchange there would only add its sample
      val topK = plan.collect {
        case LocalLimit(_, s: Sort) => s
        case LocalLimit(_, Project(_, s: Sort)) => s
      }
      plan.transformDown {
        case s @ Sort(order, true, child, _) if !topK.exists(_ eq s) =>
          overWindow(child, order).map(c => s.copy(child = c)).getOrElse(s)
      }
    }

    /** `p` with the range exchange under its window, or None. `order` is
      * the Sort's order, its keys rewritten into `p`'s attributes. */
    private def overWindow(p: LogicalPlan, order: Seq[SortOrder]): Option[LogicalPlan] =
      p match {
        case Project(list, c) if list.forall(_.deterministic) =>
          val aliases = AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
          val through = order.map(o => o.child match {
            case a: Attribute => o.copy(child = aliases.getOrElse(a, a))
            case _ => o
          })
          overWindow(c, through).map(Project(list, _))
        case Filter(cond, c) if cond.deterministic =>
          overWindow(c, order).map(Filter(cond, _))
        case w: Window if scanPipeline(w.child) =>
          val prefix = order.takeWhile(o => o.child match {
            case a: Attribute => w.partitionSpec.exists(_.semanticEquals(a))
            case _ => false
          })
          val covered = w.partitionSpec.forall(k => prefix.exists(_.child.semanticEquals(k)))
          if (prefix.isEmpty || !covered) None
          else Some(w.copy(child = RepartitionByExpression(prefix, w.child, None)))
        case _ => None
      }

    private def scanPipeline(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => scanPipeline(c)
      case Filter(_, c) => scanPipeline(c)
      case u: Union => u.children.exists(bareScan)
      case _ => bareScan(p)
    }

    private def bareScan(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => bareScan(c)
      case Filter(_, c) => bareScan(c)
      case u: Union => u.children.forall(bareScan)
      case _: LogicalRelation | _: LocalRelation => true
      case _ => false
    }
  }
}
