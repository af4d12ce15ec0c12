package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Aggregate projections — the reference's precomputed-rollup feature
  * (projections declared on a MergeTree table; the optimizer swaps a
  * matching GROUP BY onto the projection part:
  * src/Processors/QueryPlan/Optimizations/optimizeUseAggregateProjections.cpp,
  * optimizer pass list Optimizations.h:160). Spark rendering: `create`
  * materializes `GROUP BY dims` partials (count / sum / min / max) to
  * parquet, and a `Rule[LogicalPlan]` (installed with the others by
  * [[Rules.install]]) rewrites any later Aggregate over the BASE scan
  * whose grouping is a subset of `dims` and whose
  * aggregates are re-derivable (count(*), sum, min, max, avg) into a
  * re-aggregation of the projection — same answers, touching rollup-sized
  * data instead of the fact table. At 100 TB this is the difference
  * between scanning the table and scanning kilobytes.
  *
  * Filters whose references are all projection dims are rewritten too
  * (pushed onto the projection scan — filtering rollup rows on dims equals
  * filtering base rows on dims); conservative otherwise: bails (leaves the
  * plan untouched) on measure-referencing filters, non-subset groupings,
  * distinct aggregates, non-attribute agg children, or any aggregate it
  * cannot re-derive; only double/long/int sum lanes are rewritten so
  * re-summed result types match exactly.
  */
object AggProjections {

  final case class Proj(basePath: String, projPath: String,
      dims: Set[String], sums: Set[String])

  private val registry = new ConcurrentHashMap[String, Proj]()

  private def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Materialize the rollup and register it for the rewrite rule. */
  def create(spark: SparkSession, baseParquetPath: String, projPath: String,
      dims: Seq[String], measures: Seq[String]): Unit = {
    // REBUILD self-read hazard: with the projection still registered, the
    // build aggregation below matches the rewrite rule and would read the
    // STALE rollup it is about to replace — unregister first (round 8,
    // caught by the mutation-staleness spec)
    registry.remove(canon(baseParquetPath))
    val base = spark.read.parquet(baseParquetPath)
    val aggs = count(lit(1)).as("__cnt") +: measures.flatMap { c =>
      Seq(sum(col(c)).as(s"__sum_$c"), min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"))
    }
    base.groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(projPath)
    registry.put(canon(baseParquetPath),
      Proj(canon(baseParquetPath), projPath, dims.toSet, measures.toSet))
  }

  def drop(baseParquetPath: String): Unit =
    registry.remove(canon(baseParquetPath))

  /** Scan-path extractor: a bare parquet relation or a pruning Project
    * over one. Returns the matching projection, if registered. */
  private def baseScan(plan: LogicalPlan): Option[Proj] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.iterator.map(p => canon(p.toString))
          .map(registry.get).find(_ != null)
      case _ => None
    }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScan(child)
    case _ => None
  }

  case class RewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

    // Strip column-pruning Projects (the optimizer inserts them above and
    // below the Filter) down to an optional Filter over the scan. The
    // filter is rewritable when every column its predicate touches is a
    // projection DIM — then filtering rollup rows on dims equals filtering
    // base rows on dims (the reference's optimizeUseAggregateProjections
    // serves filtered queries the same way). Predicates touching measures
    // bail: the rollup has already collapsed measure values.
    private def scanWithFilter(plan: LogicalPlan)
        : Option[(Option[Expression], Proj)] = plan match {
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        scanWithFilter(child)
      case Filter(cond, child) =>
        baseScan(child)
          .filter(p => cond.references.forall(a => p.dims.contains(a.name)))
          .map(p => (Some(cond), p))
      case other => baseScan(other).map(p => (None, p))
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformUp {
        case agg @ Aggregate(groupings, aggExprs, child, _) =>
          scanWithFilter(child).flatMap { case (cond, proj) =>
            rewrite(agg, groupings, aggExprs, cond, proj)
          }.getOrElse(agg)
      }
    }

    private def rewrite(agg: Aggregate, groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], filter: Option[Expression],
        proj: Proj): Option[LogicalPlan] = {
      // grouping must be plain dim attributes, a subset of the projection's
      val groupNames = groupings.map {
        case a: AttributeReference if proj.dims.contains(a.name) => a.name
        case _ => return None
      }
      val projPlan = spark.read.parquet(proj.projPath)
        .queryExecution.analyzed
      val pAttr: Map[String, Attribute] =
        projPlan.output.map(a => a.name -> a).toMap
      def sumOf(a: Attribute): Expression =
        AggregateExpression(Sum(a), Complete, isDistinct = false)
      val cnt = pAttr("__cnt")

      def reSummable(t: org.apache.spark.sql.types.DataType): Boolean =
        t == DoubleType || t == LongType || t == IntegerType

      val rewritten: Seq[NamedExpression] = aggExprs.map {
        // grouping column in the output
        case a: AttributeReference if proj.dims.contains(a.name) =>
          Alias(pAttr(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name) if !ae.isDistinct =>
          val re: Expression = ae.aggregateFunction match {
            case Count(Seq(Literal(_, _))) =>
              Coalesce(Seq(sumOf(cnt), Literal(0L)))
            case Sum(c: AttributeReference, _)
                if proj.sums.contains(c.name) && reSummable(c.dataType) =>
              sumOf(pAttr(s"__sum_${c.name}"))
            case Min(c: AttributeReference) if proj.sums.contains(c.name) =>
              AggregateExpression(Min(pAttr(s"__min_${c.name}")),
                Complete, isDistinct = false)
            case Max(c: AttributeReference) if proj.sums.contains(c.name) =>
              AggregateExpression(Max(pAttr(s"__max_${c.name}")),
                Complete, isDistinct = false)
            case Average(c: AttributeReference, _)
                if proj.sums.contains(c.name) && reSummable(c.dataType) =>
              Divide(Cast(sumOf(pAttr(s"__sum_${c.name}")), DoubleType),
                Cast(sumOf(cnt), DoubleType))
            case _ => return None
          }
          Alias(re, name)(exprId = al.exprId)
        case _ => return None
      }
      val newGroupings = groupNames.map(n => pAttr(n): Expression)
      // Dim-only predicate remaps by name onto the projection scan, where
      // it prunes rollup rows (and, being on the scan, reaches parquet as
      // a pushed filter).
      val source = filter match {
        case Some(cond) =>
          val remapped = cond.transform {
            case a: AttributeReference => pAttr(a.name)
          }
          Filter(remapped, projPlan)
        case None => projPlan
      }
      Some(Aggregate(newGroupings, rewritten, source))
    }
  }
}
