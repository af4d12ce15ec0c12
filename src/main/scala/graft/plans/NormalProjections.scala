package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Normal (non-aggregate) projections + read-in-order — the reference's
  * alternate-physical-order projection pair
  * (src/Processors/QueryPlan/Optimizations/optimizeUseNormalProjections.cpp,
  * optimizeReadInOrder.cpp; pass list Optimizations.h:134-142): a copy of
  * the table stored in a different physical order lets the engine skip
  * the sort/shuffle a query would otherwise pay.
  *
  * Spark rendering: the alternate order is a BUCKETED + bucket-SORTED
  * catalog table (hash-clustered on the projection keys, one file per
  * bucket, rows sorted by key inside each bucket). That layout carries
  * plan-visible guarantees Spark exploits exactly the way the reference
  * exploits a projection part's sort order:
  *   - outputPartitioning = HashPartitioning(keys) → a GROUP BY or join
  *     on the keys needs NO Exchange (the 100 TB win: the fact-table
  *     shuffle disappears);
  *   - outputOrdering = keys (one sorted file per bucket) → sort-merge
  *     operations need NO Sort — Spark's literal read-in-order.
  *
  * `create` materializes the layout; the Rule ([[Rules]]) rewrites any
  * later Aggregate over the BASE parquet scan whose grouping contains the
  * projection keys onto the projection table. Pure layout substitution:
  * same rows, same answers (oracled in q_projection_normal), different
  * physical plan. Conservative: bails on groupings that don't cover the
  * keys or reference columns the projection didn't materialize.
  */
object NormalProjections {

  final case class NProj(basePath: String, table: String, keys: Seq[String],
      cols: Set[String])

  private val registry = new ConcurrentHashMap[String, NProj]()

  private def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Materialize the alternate-order copy as a bucketed+sorted catalog
    * table and register it for the rewrite. The pre-repartition on the
    * bucket keys (same hash as the bucket spec) yields ONE file per
    * bucket, which is what makes the per-bucket sort order plan-visible. */
  def create(spark: SparkSession, baseParquetPath: String, table: String,
      buckets: Int, keys: Seq[String], columns: Seq[String] = Nil): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    // rebuild self-read hazard (round 8): unregister before reading the
    // base, or the scan below rewrites to the stale sorted copy
    registry.remove(canon(baseParquetPath))
    val base = spark.read.parquet(baseParquetPath)
    val projected =
      if (columns.isEmpty) base
      else base.select((keys ++ columns).distinct.map(col): _*)
    projected
      .repartition(buckets, keys.map(col): _*)
      .write.format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    registry.put(canon(baseParquetPath),
      NProj(canon(baseParquetPath), table, keys,
        projected.columns.toSet))
  }

  def drop(spark: SparkSession, baseParquetPath: String): Unit = {
    Option(registry.remove(canon(baseParquetPath)))
      .foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${p.table}"))
  }

  private def baseScan(plan: LogicalPlan): Option[NProj] = plan match {
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
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformUp {
        case agg @ Aggregate(groupings, aggExprs, child, _) =>
          baseScan(child).flatMap(rewrite(agg, groupings, aggExprs, _))
            .getOrElse(agg)
      }
    }

    private def rewrite(agg: Aggregate,
        groupings: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        aggExprs: Seq[NamedExpression], proj: NProj): Option[LogicalPlan] = {
      // every referenced column must exist in the projection, and the
      // grouping must COVER the bucket keys (hash-clustering on keys then
      // satisfies the aggregate's required distribution — no Exchange)
      val groupNames = groupings.collect { case a: AttributeReference => a.name }
      if (groupNames.size != groupings.size) return None
      if (!proj.keys.forall(groupNames.contains)) return None
      val referenced = agg.references.map(_.name).toSet
      if (!referenced.subsetOf(proj.cols)) return None
      // optimizedPlan, not analyzed: the catalog relation must already be
      // converted to a LogicalRelation (this rule runs after the main
      // optimizer batches, so no later rule would convert a spliced
      // UnresolvedCatalogRelation and planning would fail)
      val table = spark.table(proj.table).queryExecution.optimizedPlan
      val tAttr = table.output.map(a => a.name -> a).toMap
      val remap: PartialFunction[
          org.apache.spark.sql.catalyst.expressions.Expression,
          org.apache.spark.sql.catalyst.expressions.Expression] = {
        case a: AttributeReference if tAttr.contains(a.name) => tAttr(a.name)
      }
      val newGroupings = groupings.map(_.transform(remap))
      // top-level grouping attributes keep their ORIGINAL exprIds (an
      // Alias bridge) so parent operators' references stay valid; Alias
      // nodes preserve their exprId across transform by construction
      val newAggs: Seq[NamedExpression] = aggExprs.map {
        case a: AttributeReference if tAttr.contains(a.name) =>
          org.apache.spark.sql.catalyst.expressions.Alias(
            tAttr(a.name), a.name)(exprId = a.exprId)
        case other => other.transform(remap).asInstanceOf[NamedExpression]
      }
      Some(Aggregate(newGroupings, newAggs, table))
    }
  }
}
