package graft.plans

import graft.operators.SkipIndex
import graft.plans.Layouts.Skip
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Transparent skip-index pruning, the way the reference applies its skip
  * indexes: the user writes a plain SELECT and
  * MergeTreeDataSelectExecutor::filterMarksUsingIndex drops granules after
  * partition pruning and before the read. Here [[PruneRule]] wraps the
  * location of a Filter's base scan that has [[Layouts.Skip]] layouts in a
  * [[SkippingFileIndex]], whatever partition pruning left of it. Spark
  * lists the scan's files through `listFiles(partitionFilters,
  * dataFilters)`: the inner index prunes partitions, then
  * [[FileAdmission]] drops the files the skip indexes reject under the
  * data filters, so the scan's "number of files read" shows the decision.
  * Each index family answers its own leaves ([[SkipIndex.Index]]):
  * bloom_filter and set equality and IN, minmax comparisons, equality and
  * LIKE 'x%', ngrambf_v1 LIKE '%x%', 'x%' and '%x'. The Filter stays, so
  * index false positives re-check and answers never change. */
object SkipIndexPruning extends PredicateHelper {

  /** What one skip index admitted of a scan's files: the reference's
    * EXPLAIN indexes = 1 output (which index ran, parts before and after). */
  final case class Decision(dataPath: String, kind: String,
      columns: Set[String], admitted: Int, total: Int)

  /** `inner`'s files less those the `skips` of the base path `base` reject.
    * `filters`, the wrapped Filter's conjuncts, judge `inputFiles`, which
    * Spark asks without filters. */
  final case class SkippingFileIndex(inner: FileIndex, base: String, skips: Seq[Skip],
      filters: Seq[Expression])(spark: SparkSession) extends FileIndex {

    override def rootPaths = inner.rootPaths
    override def partitionSchema: StructType = inner.partitionSchema
    override def refresh(): Unit = inner.refresh()
    override def sizeInBytes: Long = inner.sizeInBytes
    override def inputFiles: Array[String] =
      listFiles(Nil, filters).flatMap(_.files).map(_.getPath.toString).toArray

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      decide(partitionFilters, dataFilters)._1

    /** The files each index admits under the filters, one decision per
      * index on a column the filters name. */
    def decisions(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[Decision] =
      decide(partitionFilters, dataFilters)._2

    private def decide(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): (Seq[PartitionDirectory], Seq[Decision]) = {
      val dirs = inner.listFiles(partitionFilters, dataFilters)
      val p = FileAdmission.normalize(dataFilters)
      val named = FileAdmission.columns(p).map(_.toLowerCase)
      val probed = skips.filter(_.columns.exists(c => named(c.toLowerCase)))
      if (probed.isEmpty) return (dirs, Nil)
      // each index dir is read once per listing
      val indexes = probed.map(s => s -> SkipIndex.load(spark, s.kind, s.dir))
      def admits(f: org.apache.hadoop.fs.Path, is: Seq[SkipIndex.Index]): Boolean =
        FileAdmission.admits(p, q => is.forall(_.admits(f, q)))
      val files = dirs.flatMap(_.files).map(_.getPath)
      (dirs.map(d => d.copy(files = d.files.filter(f => admits(f.getPath, indexes.map(_._2))))),
        indexes.map { case (s, i) =>
          Decision(base, s.kind, s.columns.toSet, files.count(admits(_, Seq(i))), files.size)
        })
    }
  }

  /** The decisions of the skip-index scans of `plan`, as each lists its
    * files. */
  def decisions(plan: SparkPlan): Seq[Decision] = plan.collect {
    case s: FileSourceScanExec => s.relation.location match {
      case i: SkippingFileIndex =>
        i.decisions(s.partitionFilters.filterNot(_.isInstanceOf[DynamicPruning]), s.dataFilters)
      case _ => Nil
    }
  }.flatten

  case class PruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (Layouts.isEmpty) return plan
      plan.transformUp {
        case f @ Filter(cond, child) => Layouts.scanOf(child) match {
          case Some(s) if s.layouts.exists(_.isInstanceOf[Skip]) &&
              !s.files.location.isInstanceOf[SkippingFileIndex] =>
            val location = SkippingFileIndex(s.files.location, s.path,
              s.layouts.collect { case k: Skip => k }, splitConjunctivePredicates(cond))(spark)
            val wrapped = s.relation.copy(relation = s.files.copy(location = location)(spark))
            Filter(cond, child.transform { case _: LogicalRelation => wrapped })
          case _ => f
        }
      }
    }
  }
}
