package graft.plans

import graft.plans.Layouts.{Rollup, Sorted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Projections — the reference's two projection kinds on a MergeTree
  * table, which its optimizer swaps a matching query onto
  * (src/Processors/QueryPlan/Optimizations/optimizeUseAggregateProjections
  * and optimizeUseNormalProjections, read-in-order in optimizeReadInOrder;
  * pass list Optimizations.h:134-161):
  *   - a ROLLUP ([[Layouts.Rollup]]) materializes `GROUP BY dims`
  *     partials (count / sum / min / max) to parquet. An Aggregate over
  *     the base scan whose grouping is a subset of `dims` and whose
  *     aggregates are re-derivable (count(*), sum, min, max, avg)
  *     re-aggregates the rollup instead: same answers from rollup-sized
  *     data. A Filter whose references are all dims moves onto the rollup
  *     scan (filtering rollup rows on dims equals filtering base rows on
  *     dims); one touching a measure bails, the rollup has collapsed
  *     measure values. Only double/long/int sums are re-summed, so result
  *     types match exactly; distinct aggregates and non-attribute
  *     children bail.
  *   - a SORTED COPY ([[Layouts.Sorted]]) is a bucketed and bucket-sorted
  *     catalog table: hash-clustered on the keys, one file per bucket,
  *     rows sorted by key inside each bucket. Its outputPartitioning is
  *     HashPartitioning(keys), so a GROUP BY or join on the keys needs no
  *     Exchange, and its outputOrdering is the keys, so sort-merge
  *     operations need no Sort: Spark's read-in-order. An unfiltered
  *     Aggregate over the base scan whose plain-attribute grouping covers
  *     the keys, and whose columns the copy holds, reads the copy: same
  *     rows, different physical plan.
  * For one Aggregate the rule tries the path's rollups first, fewest dims
  * first (a rollup over a subset of another's dims is never larger), then
  * by dir; then the sorted copies by table name. */
object Projections {

  /** Materializes a rollup's partials at its dir. */
  private[plans] def buildRollup(spark: SparkSession, r: Rollup): Unit = {
    val aggs = count(lit(1)).as("__cnt") +: r.measures.flatMap { c =>
      Seq(sum(col(c)).as(s"__sum_$c"), min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"))
    }
    spark.read.parquet(r.base).groupBy(r.dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(r.dir)
  }

  /** Materializes a sorted copy into eight buckets. The pre-repartition on
    * the bucket keys (the bucket spec's hash) yields ONE file per bucket,
    * which is what makes the per-bucket sort order plan-visible. */
  private[plans] def buildSorted(spark: SparkSession, s: Sorted): Unit = {
    val base = spark.read.parquet(s.base)
    val projected =
      if (s.columns.isEmpty) base
      else base.select((s.keys ++ s.columns).distinct.map(col): _*)
    projected
      .repartition(8, s.keys.map(col): _*)
      .write.format("parquet")
      .bucketBy(8, s.keys.head, s.keys.tail: _*)
      .sortBy(s.keys.head, s.keys.tail: _*)
      .saveAsTable(s.table)
  }

  case class RewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (Layouts.isEmpty) return plan
      plan.transformUp {
        case agg: Aggregate => serve(agg).getOrElse(agg)
      }
    }

    // Strip column-pruning Projects (the optimizer inserts them above and
    // below the Filter) down to an optional Filter over the base scan.
    private def serve(agg: Aggregate): Option[LogicalPlan] = {
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case Project(projectList, child)
            if projectList.forall(_.isInstanceOf[AttributeReference]) => strip(child)
        case other => other
      }
      val (filter, scan) = strip(agg.child) match {
        case Filter(cond, child) => (Some(cond), Layouts.scanOf(child))
        case other => (None, Layouts.scanOf(other))
      }
      scan.flatMap { s =>
        val rollups = s.layouts.collect { case r: Rollup => r }
          .sortBy(r => (r.dims.size, r.dir)).iterator
          .flatMap(rollup(agg, filter, _))
        val copies = s.layouts.collect { case c: Sorted if filter.isEmpty => c }
          .sortBy(_.table).iterator
          .flatMap(sortedCopy(agg, _))
        (rollups ++ copies).nextOption()
      }
    }

    private def rollup(agg: Aggregate, filter: Option[Expression],
        r: Rollup): Option[LogicalPlan] = {
      val (dims, sums) = (r.dims.toSet, r.measures.toSet)
      if (!filter.forall(_.references.forall(a => dims.contains(a.name)))) return None
      // grouping must be plain dim attributes, a subset of the rollup's
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference if dims.contains(a.name) => a.name
        case _ => return None
      }
      val projPlan = spark.read.parquet(r.dir).queryExecution.analyzed
      val pAttr: Map[String, Attribute] =
        projPlan.output.map(a => a.name -> a).toMap
      def sumOf(a: Attribute): Expression =
        AggregateExpression(Sum(a), Complete, isDistinct = false)
      val cnt = pAttr("__cnt")

      def reSummable(t: DataType): Boolean =
        t == DoubleType || t == LongType || t == IntegerType

      val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
        // grouping column in the output
        case a: AttributeReference if dims.contains(a.name) =>
          Alias(pAttr(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name) if !ae.isDistinct =>
          val re: Expression = ae.aggregateFunction match {
            case Count(Seq(Literal(_, _))) =>
              Coalesce(Seq(sumOf(cnt), Literal(0L)))
            case Sum(c: AttributeReference, _)
                if sums.contains(c.name) && reSummable(c.dataType) =>
              sumOf(pAttr(s"__sum_${c.name}"))
            case Min(c: AttributeReference) if sums.contains(c.name) =>
              AggregateExpression(Min(pAttr(s"__min_${c.name}")),
                Complete, isDistinct = false)
            case Max(c: AttributeReference) if sums.contains(c.name) =>
              AggregateExpression(Max(pAttr(s"__max_${c.name}")),
                Complete, isDistinct = false)
            case Average(c: AttributeReference, _)
                if sums.contains(c.name) && reSummable(c.dataType) =>
              Divide(Cast(sumOf(pAttr(s"__sum_${c.name}")), DoubleType),
                Cast(sumOf(cnt), DoubleType))
            case _ => return None
          }
          Alias(re, name)(exprId = al.exprId)
        case _ => return None
      }
      val newGroupings = groupNames.map(n => pAttr(n): Expression)
      // Dim-only predicate remaps by name onto the rollup scan, where it
      // prunes rollup rows (and, being on the scan, reaches parquet as a
      // pushed filter).
      val source = filter.fold(projPlan: LogicalPlan) { cond =>
        Filter(cond.transform { case a: AttributeReference => pAttr(a.name) }, projPlan)
      }
      Some(Aggregate(newGroupings, rewritten, source))
    }

    private def sortedCopy(agg: Aggregate, c: Sorted): Option[LogicalPlan] = {
      // the grouping must COVER the bucket keys (hash-clustering on keys
      // then satisfies the aggregate's required distribution — no Exchange)
      val groupNames = agg.groupingExpressions.collect { case a: AttributeReference => a.name }
      if (groupNames.size != agg.groupingExpressions.size) return None
      if (!c.keys.forall(groupNames.contains)) return None
      // optimizedPlan, not analyzed: the catalog relation must already be
      // converted to a LogicalRelation (this rule runs after the main
      // optimizer batches, so no later rule would convert a spliced
      // UnresolvedCatalogRelation and planning would fail)
      val table = spark.table(c.table).queryExecution.optimizedPlan
      val tAttr = table.output.map(a => a.name -> a).toMap
      // every referenced column must exist in the copy
      if (!agg.references.forall(a => tAttr.contains(a.name))) return None
      val remap: PartialFunction[Expression, Expression] = {
        case a: AttributeReference if tAttr.contains(a.name) => tAttr(a.name)
      }
      // top-level grouping attributes keep their ORIGINAL exprIds (an
      // Alias bridge) so parent operators' references stay valid; Alias
      // nodes preserve their exprId across transform by construction
      val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference if tAttr.contains(a.name) =>
          Alias(tAttr(a.name), a.name)(exprId = a.exprId)
        case other => other.transform(remap).asInstanceOf[NamedExpression]
      }
      Some(Aggregate(agg.groupingExpressions.map(_.transform(remap)), newAggs, table))
    }
  }
}
