package graft.plans

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetrics

/** A root ORDER BY, sorted where it is collected (the reference's
  * SortingStep: each stream sorts, then the initiator merges the sorted
  * streams). Spark plans a global sort as a range exchange, whose bound
  * sampling runs the whole child an extra time, then a shuffle and a
  * sort; a collect needs none of it. Matches a global `Sort` under
  * `ReturnAnswer`, directly or under one deterministic `Project`; a LIMIT
  * root stays Spark's `TakeOrderedAndProject`. */
object OrderedCollect extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) =>
      OrderedCollectExec(order, child.output, planLater(child)) :: Nil
    case ReturnAnswer(Project(list, Sort(order, true, child, _))) if list.forall(_.deterministic) =>
      OrderedCollectExec(order, list, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** `child` ordered by `order`, then projected to `projectList`.
  * `executeCollect` sorts each partition in one job and sorts the
  * collected array with TimSort, which finds the k sorted runs and merges
  * them in O(n log k). Every other consumer (`cache`, `localCheckpoint`,
  * `toLocalIterator`) runs `doExecute`: Spark's range exchange and sort,
  * with no driver merge to measure. */
case class OrderedCollectExec(order: Seq[SortOrder],
    projectList: Seq[NamedExpression], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  private def projected: Boolean = output != child.output

  override lazy val metrics = Map(
    "rows" -> SQLMetrics.createMetric(sparkContext, "rows merged"),
    "runs" -> SQLMetrics.createMetric(sparkContext, "sorted runs merged"),
    "mergeTime" -> SQLMetrics.createTimingMetric(sparkContext, "driver merge time"))

  private def sortWithin(p: SparkPlan): SparkPlan =
    if (SortOrder.orderingSatisfies(p.outputOrdering, order)) p
    else SortExec(order, global = false, p)

  /** What `doExecute` runs: the range exchange, the sort, the projection. */
  private lazy val global: SparkPlan = {
    val sorted = sortWithin(
      if (child.outputPartitioning.satisfies(OrderedDistribution(order))) child
      else ShuffleExchangeExec(RangePartitioning(order, conf.numShufflePartitions), child))
    if (projected) ProjectExec(projectList, sorted) else sorted
  }

  override def outputOrdering: Seq[SortOrder] = global.outputOrdering
  override def outputPartitioning: Partitioning = global.outputPartitioning
  protected override def doExecute(): RDD[InternalRow] = global.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val rows = sortWithin(child).executeCollect()
    val start = System.nanoTime()
    val ordering = new LazilyGeneratedOrdering(order, child.output)
    val runs = (1 until rows.length).count(i => ordering.gt(rows(i - 1), rows(i))) +
      math.min(rows.length, 1)
    java.util.Arrays.sort(rows, ordering)
    val out = if (!projected) rows else {
      val proj = UnsafeProjection.create(projectList, child.output)
      rows.map[InternalRow](proj(_).copy())
    }
    longMetric("rows") += rows.length
    longMetric("runs") += runs
    longMetric("mergeTime") += NANOSECONDS.toMillis(System.nanoTime() - start)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    out
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedCollectExec =
    copy(child = newChild)
}
