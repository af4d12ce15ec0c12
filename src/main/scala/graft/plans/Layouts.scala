package graft.plans

import java.util.concurrent.ConcurrentHashMap

import graft.operators.SkipIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Which built structures serve a base path: the rollups, sorted copies
  * and skip indexes registered over a parquet dir, in one map from the
  * dir's canonical path to its layouts. The reference's optimizer chooses
  * among all the projections and skip indexes a table declares
  * (optimizeUseAggregateProjections, optimizeUseNormalProjections,
  * MergeTreeDataSelectExecutor::filterMarksUsingIndex); here
  * [[Projections]] and [[SkipIndexPruning]] read this one map. A catalog
  * table's layouts are registered under its location
  * (`ClickHouseSql.tableLocation`), the key [[scanOf]] reads off the
  * relation's catalog table.
  *
  * A layout is keyed by (base path, `built`): its dir, or its catalog
  * table. `register` builds it from the base path's current files and
  * serves it; `unregister` stops serving it and disposes of what it
  * built. Other layouts of the path stay registered while one builds, so
  * a caller that rebuilds after the files changed unregisters them all
  * first (`TableLedger.build`): a build never reads its base through a
  * stale layout. */
object Layouts {

  sealed trait Layout {
    def base: String
    def built: String
  }

  /** `GROUP BY dims` partials of the base at `dir`: `__cnt`, and
    * `__sum_`/`__min_`/`__max_` of each measure. */
  final case class Rollup(base: String, dir: String, dims: Seq[String],
      measures: Seq[String]) extends Layout {
    def built: String = dir
  }

  /** The base's `keys ++ columns` (all columns when `columns` is empty)
    * as catalog table `table`, bucketed and sorted on `keys`. */
  final case class Sorted(base: String, table: String, keys: Seq[String],
      columns: Seq[String] = Nil) extends Layout {
    def built: String = table
  }

  /** A per-file skip index at `dir`. `kind` ∈ bloom_filter | minmax | set
    * | ngrambf_v1; `param` is set's max values or ngrambf_v1's n. */
  final case class Skip(base: String, kind: String, dir: String,
      columns: Seq[String], param: Option[Int] = None) extends Layout {
    def built: String = dir
  }

  private val registry = new ConcurrentHashMap[String, List[Layout]]()

  private def canon(p: String): String = new Path(p).toUri.getPath

  def isEmpty: Boolean = registry.isEmpty

  /** Builds `l` over its base's current files, replacing what a layout of
    * the same key built before, and serves it. A failed build leaves
    * nothing behind. */
  def register(spark: SparkSession, l: Layout): Unit = {
    remove(l.base, l.built)
    dispose(spark, l)
    try build(spark, l)
    catch { case e: Exception => dispose(spark, l); throw e }
    registry.merge(canon(l.base), List(l), (old, _) => old.filterNot(_.built == l.built) :+ l)
  }

  /** Stops serving the layout of `base` built at `built` and deletes its
    * dir or drops its table. */
  def unregister(spark: SparkSession, base: String, built: String): Unit =
    remove(base, built).foreach(dispose(spark, _))

  private def remove(base: String, built: String): Option[Layout] = {
    var gone: Option[Layout] = None
    registry.computeIfPresent(canon(base), (_, ls) => {
      val (hit, rest) = ls.partition(_.built == built)
      gone = hit.headOption
      if (rest.isEmpty) null else rest
    })
    gone
  }

  private def build(spark: SparkSession, l: Layout): Unit = l match {
    case r: Rollup => Projections.buildRollup(spark, r)
    case s: Sorted => Projections.buildSorted(spark, s)
    case Skip(base, kind, dir, columns, param) => kind match {
      case "bloom_filter" => SkipIndex.create(spark, base, dir, columns)
      case "minmax" => SkipIndex.createMinMax(spark, base, dir, columns)
      case "ngrambf_v1" => SkipIndex.createNgram(spark, base, dir, columns.head,
        n = param.getOrElse(3))
      case "set" => SkipIndex.createSet(spark, base, dir, columns,
        maxValues = param.getOrElse(100))
      case other => throw new IllegalArgumentException(s"unknown skip index type $other")
    }
  }

  private def dispose(spark: SparkSession, l: Layout): Unit = {
    val dir = l match {
      case s: Sorted =>
        spark.sql(s"DROP TABLE IF EXISTS ${s.table}")
        new Path(spark.conf.get("spark.sql.warehouse.dir"), s.table)
      case other => new Path(other.built)
    }
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  /** A base scan: a file relation under column-pruning Projects, its key
    * and the layouts registered at that key. A catalog table's key is its
    * location, which partition pruning leaves in place (it replaces only
    * the file index); a path read's key is its one root path. */
  final case class Scan(relation: LogicalRelation, files: HadoopFsRelation,
      path: String, layouts: List[Layout])

  def scanOf(plan: LogicalPlan): Option[Scan] = plan match {
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      scanOf(child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        lr.catalogTable.map(_.location.toString)
          .orElse(Some(fs.location.rootPaths).collect { case Seq(root) => root.toString })
          .map(canon)
          .flatMap(path => Option(registry.get(path)).map(Scan(lr, fs, path, _)))
      case _ => None
    }
    case _ => None
  }
}
