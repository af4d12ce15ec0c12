package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.plans.FileAdmission
import graft.plans.FileAdmission.{Eq, Nulls, Pred, Range, Text}
import graft.sources.IcebergBounds.ColBounds
import graft.sources.IcebergTransforms.IcePartField

/** PLANNING-TIME manifest pruning for Iceberg scans — the Spark-native
  * analog of the reference's ManifestFilesPruning: a custom
  * [[FileIndex]] whose `listFiles` evaluates the query's pushed data
  * filters against each data file's recorded PARTITION TUPLE and
  * COLUMN BOUNDS, so `SELECT … FROM iceberg('t') WHERE id = 34` on a
  * `bucket(4, id)` table (or `WHERE ts >= X AND ts < Y` on a `day(ts)`
  * table) scans ONLY the matching files — automatically, from the
  * predicate, with no explicit prune parameter. The static
  * `pruneSource`/`partitionEq` read arguments still apply first (they
  * shrink this index's file list); this index adds the dynamic lane on
  * top.
  *
  * Two prune sources, mirroring the reference's partition
  * `KeyCondition` (ManifestFilesPruning.h:30) and
  * `min_max_key_conditions` (ManifestFilesPruning.cpp:188):
  *
  *  - PARTITION TUPLES: equality (`=`, `<=>`, `IN`) through every
  *    transform; inequalities (`<`, `<=`, `>`, `>=`) through
  *    ORDER-PRESERVING transforms only (identity, truncate, year/
  *    month/day/hour — monotonic, so the transformed bound compares
  *    directly; bucket is a hash and never range-prunes);
  *    `IS [NOT] NULL` through every value transform (transforms of
  *    null are null per the spec).
  *  - COLUMN BOUNDS: the manifest's `lower_bounds`/`upper_bounds` per
  *    file, pruning predicates on NON-partition columns from metadata
  *    alone — equality, inequalities, IN, and string prefix.
  *
  * The filters are normalized by [[FileAdmission]], the evaluator the
  * skip indexes share; everything else ADMITS — keep is always safe.
  * Literal rendering and
  * transform evaluation are the SAME code as the static lane
  * (IcebergTransforms.tupleAdmitsSource*), so the two can never
  * disagree. The index is file-count-sized driver metadata — the same
  * scale as the manifests it derives from.
  */
final class IcebergManifestFileIndex(
    files: Seq[(FileStatus, Option[Map[String, Option[String]]],
      Map[String, ColBounds])],
    fields: Seq[IcePartField]) extends FileIndex {

  override def rootPaths: Seq[Path] =
    files.map(_._1.getPath.getParent).distinct

  override def partitionSchema: StructType = StructType(Nil)

  override def inputFiles: Array[String] =
    files.map(_._1.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._1.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val p = FileAdmission.normalize(dataFilters)
    val kept = files.filter { case (_, tuple, stats) =>
      FileAdmission.admits(p, admits(tuple, stats, _))
    }
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map { case (st, _, _) => FileStatusWithMetadata(st) }))
  }

  /** May the file with partition `tuple` and column bounds `stats` hold a
    * row where the leaf `p` holds? Strict bounds tighten the tuple bound
    * by one discrete unit where the domain allows (`ts < midnight` prunes
    * the midnight day) and compare the column bounds strictly. */
  private def admits(tuple: Option[Map[String, Option[String]]],
      stats: Map[String, ColBounds], p: Pred): Boolean = {
    def raw(v: Literal) = IcebergTransforms.rawOfLiteral(v.value, v.dataType)
    /** `test` of the comparison of the file's `bound` with `v`. */
    def bounds(c: String, v: Literal, bound: ColBounds => Option[Any])(test: Int => Boolean) =
      (for {
        b <- stats.get(c.toLowerCase)
        m <- bound(b)
        x <- IcebergBounds.normLiteral(v.value, v.dataType)
        r <- IcebergBounds.cmp(m, x)
      } yield test(r)).getOrElse(true)
    p match {
      case Eq(c, vs) => vs.exists { v =>
        raw(v).forall(IcebergTransforms.tupleAdmitsSource(tuple, fields, c, _)) &&
          bounds(c, v, _.min)(_ <= 0) && bounds(c, v, _.max)(_ >= 0)
      }
      case Range(c, v, lower, strict) =>
        raw(v).forall(IcebergTransforms.tupleAdmitsSourceBound(tuple, fields, c, _, lower, strict)) &&
          (if (lower) bounds(c, v, _.max)(r => r > 0 || !strict && r == 0)
          else bounds(c, v, _.min)(r => r < 0 || !strict && r == 0))
      case Nulls(c, isNull) => IcebergTransforms.tupleAdmitsSourceNull(tuple, fields, c, isNull)
      // `col LIKE 'p%'`: the file admits unless its whole range sorts
      // before `p` (max < p) or after every `p`-prefixed string (min > p
      // without the prefix), in the bounds' UTF-8 byte order
      case Text(c, pre, true, false) => stats.get(c.toLowerCase).forall { b =>
        b.max.forall {
          case m: String => IcebergBounds.cmp(m, pre).forall(_ >= 0)
          case _ => true
        } && b.min.forall {
          case m: String => IcebergBounds.cmp(m, pre).forall(_ <= 0) || m.startsWith(pre)
          case _ => true
        }
      }
      case _ => true
    }
  }
}
