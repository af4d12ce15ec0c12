package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** The reference's `optimize_trivial_count_query` +
  * `_minmax_count_projection` (src/Interpreters/InterpreterSelectQuery
  * .cpp; src/Storages/MergeTree's implicit minmax-count projection): a
  * bare `SELECT count() / min(k) / max(k) FROM t` answers from part
  * METADATA, never scanning — here, from parquet footers: row counts
  * always, column min/max when every row group carries sound statistics.
  * Driver metadata reads (one footer per file), zero executor tasks,
  * zero data IO. At 100 TB this turns the most common ad-hoc queries
  * into metadata lookups.
  *
  * Guards:
  *  - fires ONLY on Aggregate(no grouping) whose EVERY aggregate is
  *    Count(lit) / Min(attr) / Max(attr), whose child is the bare
  *    parquet relation (possibly under a column-pruning Project) — any
  *    Filter/Join in between leaves the plan untouched;
  *  - min/max only over INT32 / INT64 / DATE physical columns (signed,
  *    statistics totally ordered — float stats are NaN-unsound, binary
  *    stats may be truncated) and only when every row group has
  *    statistics for the column; any gap bails to the scan;
  *  - all-null columns (no non-null stat anywhere) yield NULL, matching
  *    the aggregate semantics.
  * Correctness is footer-exact: files are immutable here — every
  * mutation path in this engine rewrites files, never edits in place.
  */
object TrivialCount {

  private sealed trait Want
  private case object WantCount extends Want
  private final case class WantMin(column: String) extends Want
  private final case class WantMax(column: String) extends Want

  /** Footer pass: (total rows, per-column (min, max) where EVERY block
    * had sound stats). Returns None when any needed column lacks stats
    * in any block (→ bail to the scan). Footers read on a bounded driver
    * pool (round-8: the serial loop was the minor scale flag — at
    * thousands of files per location, N sequential HDFS round-trips). */
  private def footerStats(spark: SparkSession, files: Seq[String],
      needed: Set[String]): Option[(Long, Map[String, (Option[Long], Option[Long])])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, files.size)))
    try {
      val futures = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[
            Option[(Long, Map[String, (Option[Long], Option[Long])])]] {
          override def call() =
            fileStats(f, needed, new org.apache.hadoop.conf.Configuration(conf))
        })
      }
      var rows = 0L
      val acc = scala.collection.mutable.Map.empty[String, (Option[Long], Option[Long])]
      needed.foreach(c => acc(c) = (None, None))
      for (fu <- futures) fu.get() match {
        case None => return None
        case Some((r, m)) =>
          rows += r
          m.foreach { case (c, (mn, mx)) =>
            val (curMn, curMx) = acc(c)
            acc(c) = (
              (curMn, mn) match {
                case (Some(a), Some(b)) => Some(math.min(a, b))
                case (a, b) => a.orElse(b)
              },
              (curMx, mx) match {
                case (Some(a), Some(b)) => Some(math.max(a, b))
                case (a, b) => a.orElse(b)
              })
          }
      }
      Some((rows, acc.toMap))
    } finally pool.shutdownNow()
  }

  /** One file's footer contribution, or None on any unsound stat. */
  private def fileStats(f: String, needed: Set[String],
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(Long, Map[String, (Option[Long], Option[Long])])] = {
    var rows = 0L
    val acc = scala.collection.mutable.Map.empty[String, (Option[Long], Option[Long])]
    needed.foreach(c => acc(c) = (None, None))
    import scala.jdk.CollectionConverters._
    locally {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val md = r.getFooter
        val schema = md.getFileMetaData.getSchema
        for (block <- md.getBlocks.asScala) {
          rows += block.getRowCount
          for (c <- needed) {
            val chunk = block.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(return None)
            val st = chunk.getStatistics
            if (st == null || st.isEmpty) return None
            // sound orderings only: signed INT32 / INT64 (incl. DATE)
            val prim = schema.getColumns.asScala
              .find(_.getPath.toSeq == Seq(c)).map(_.getPrimitiveType)
              .getOrElse(return None)
            val ptn = prim.getPrimitiveTypeName
            if (ptn != org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 &&
                ptn != org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
              return None
            // signed orderings only — an unsigned/decimal annotation would
            // make the signed min/max comparison unsound
            prim.getLogicalTypeAnnotation match {
              case null => ()
              case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                if (!i.isSigned) return None
              case _: org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation => ()
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                // MICROS only — a NANOS footer (the events-drift physical
                // type) would fold nanos into a micros-typed literal
                if (t.getUnit !=
                  org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS)
                  return None
              case _ => return None
            }
            if (st.hasNonNullValue) {
              // a block with real min/max but an UNSET null count (e.g.
              // externally written parquet, getNumNulls == -1) must BAIL,
              // not be skipped — skipping would fold min/max over the
              // other blocks only and silently drop this block's values
              if (!st.isNumNullsSet || st.getNumNulls < 0) return None
              if (block.getRowCount > st.getNumNulls) {
                val (mn, mx) = st.genericGetMin match {
                  case i: java.lang.Integer =>
                    (i.longValue(), st.genericGetMax.asInstanceOf[java.lang.Integer].longValue())
                  case l: java.lang.Long =>
                    (l.longValue(), st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                  case _ => return None
                }
                val (curMn, curMx) = acc(c)
                acc(c) = (Some(curMn.fold(mn)(math.min(_, mn))),
                  Some(curMx.fold(mx)(math.max(_, mx))))
              }
            }
          }
        }
      } finally r.close()
    }
    Some((rows, acc.toMap))
  }

  case class CountRule(spark: SparkSession) extends Rule[LogicalPlan] {

    private def bareParquet(plan: LogicalPlan): Option[HadoopFsRelation] =
      plan match {
        case Project(projectList, child)
            if projectList.forall(_.isInstanceOf[AttributeReference]) =>
          bareParquet(child)
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
                fs.partitionSchema.isEmpty =>
            Some(fs)
          case _ => None
        }
        case _ => None
      }

    private def wanted(a: Alias): Option[Want] = a.child match {
      case AggregateExpression(Count(Seq(_: Literal)), Complete, false, None, _) =>
        Some(WantCount)
      case AggregateExpression(Min(ar: AttributeReference), Complete, false, None, _)
          if Seq(IntegerType, LongType, DateType, TimestampType,
            TimestampNTZType).contains(ar.dataType) =>
        Some(WantMin(ar.name))
      case AggregateExpression(Max(ar: AttributeReference), Complete, false, None, _)
          if Seq(IntegerType, LongType, DateType, TimestampType,
            TimestampNTZType).contains(ar.dataType) =>
        Some(WantMax(ar.name))
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, child, _)
          if aggExprs.nonEmpty && aggExprs.forall(_.isInstanceOf[Alias]) =>
        val wants = aggExprs.map(e => wanted(e.asInstanceOf[Alias]))
        if (wants.exists(_.isEmpty)) agg
        else bareParquet(child) match {
          case Some(fs) =>
            val needed = wants.flatten.collect {
              case WantMin(c) => c
              case WantMax(c) => c
            }.toSet
            footerStats(spark, fs.location.inputFiles.toSeq, needed) match {
              case Some((rows, stats)) =>
                val out = aggExprs.map(_.asInstanceOf[Alias]).zip(wants.flatten)
                val values = out.map { case (a, w) =>
                  w match {
                    case WantCount => rows.asInstanceOf[Any]
                    case WantMin(c) => narrowed(a, stats(c)._1)
                    case WantMax(c) => narrowed(a, stats(c)._2)
                  }
                }
                LocalRelation(out.map(_._1.toAttribute),
                  Seq(InternalRow(values: _*)))
              case None => agg
            }
          case None => agg
        }
    }

    /** Footer longs → the aggregate's own (internal) type. */
    private def narrowed(a: Alias, v: Option[Long]): Any = v match {
      case None => null
      case Some(l) => a.dataType match {
        case LongType | TimestampType | TimestampNTZType => l
        case IntegerType | DateType => l.toInt
        case _ => null
      }
    }
  }
}
