package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The engine's optimizer rules and planner strategies, installed
  * together in one fixed order (the reference runs its plan optimizations
  * as one ordered pass list, QueryPlan::optimizeTree). Spark runs
  * `extraOptimizations` as one fixed-point batch after its own, applying
  * the rules in list order on every iteration, so when two rules match
  * the same subtree the earlier one decides. The order:
  *  1. [[TrivialCount]]: a bare count/min/max answers from parquet
  *     footers, with no scan at all, before any rule below turns that
  *     Aggregate into a read of something else.
  *  2. [[Projections]]: an Aggregate over a (dim-filtered) base scan
  *     re-aggregates the smallest rollup that fits, else reads a sorted
  *     copy its grouping covers. Choosing among the path's rollups and
  *     copies happens inside the one rule, so no order between rules
  *     decides it.
  *  3. [[SkipIndexPruning]]: a Filter over a base scan lists its files
  *     through a skipping file index, which drops the files the skip
  *     indexes reject. The wrapped scan keeps its roots and catalog table,
  *     so the projection rule still matches it in a later iteration.
  * Both layout rules read one registry, [[Layouts]], and return at once
  * while it is empty, so a session without projections or skip indexes
  * pays nothing for them. The one strategy, [[OrderedCollect]], runs
  * before Spark's own and plans only the root ORDER BY it matches. */
object Rules {

  /** The rules for `spark`, in the order they run. */
  def of(spark: SparkSession): Seq[Rule[LogicalPlan]] = Seq(
    TrivialCount.CountRule(spark),
    Projections.RewriteRule(spark),
    SkipIndexPruning.PruneRule(spark))

  /** The planner strategies, in the order they are tried. */
  val strategies: Seq[SparkStrategy] = Seq(OrderedCollect)

  /** Appends the rules to the session's optimizer and the strategies to
    * its planner unless it already has them (a rule equals its own kind
    * for the same session). */
  def install(spark: SparkSession): Unit = synchronized {
    val rules = of(spark)
    val current = spark.experimental.extraOptimizations
    if (!current.exists(rules.contains))
      spark.experimental.extraOptimizations = current ++ rules
    val planned = spark.experimental.extraStrategies
    if (!planned.exists(strategies.contains))
      spark.experimental.extraStrategies = planned ++ strategies
  }
}
