package graft.plans

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, Contains, EndsWith, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Lower, Or, StartsWith}

/** Whether a data file may hold a row a scan's filters accept, from what
  * is recorded about the file: the one evaluator behind both per-file
  * sources, the skip indexes ([[graft.operators.SkipIndex.Index]]) and an
  * Iceberg table's partition tuples and column bounds
  * ([[graft.sources.IcebergManifestFileIndex]]). The reference layers the
  * same check over partition pruning
  * (MergeTreeDataSelectExecutor::filterMarksUsingIndex).
  *
  * [[normalize]] turns Spark's data filters into [[Pred]]s once: column
  * first, literals in the column's own type, NULL literals dropped from
  * equality lists, `lower(col)` text marked as such. A source answers one
  * leaf for one file and admits every leaf it cannot judge; [[admits]]
  * combines the answers through AND and OR. Shapes the normalizer does not
  * know admit, so a file is only ever dropped when no row of it can pass
  * the filter, and the Filter above the scan still re-checks every row. */
object FileAdmission {

  sealed trait Pred
  /** The column equals one of `values` (non-null, of the column's type). */
  final case class Eq(column: String, values: Seq[Literal]) extends Pred
  /** The column lies above (`lower`) or below `bound`. */
  final case class Range(column: String, bound: Literal, lower: Boolean,
      strict: Boolean) extends Pred
  final case class Nulls(column: String, isNull: Boolean) extends Pred
  /** The column's text holds `needle`, at its start when `prefix`;
    * `lowered` says the filter reads `lower(column)`. */
  final case class Text(column: String, needle: String, prefix: Boolean,
      lowered: Boolean) extends Pred
  final case class All(preds: Seq[Pred]) extends Pred
  final case class AnyOf(preds: Seq[Pred]) extends Pred
  /** A filter no source can judge: every file admits. */
  case object Unknown extends Pred

  /** The conjunction of `filters`. */
  def normalize(filters: Seq[Expression]): Pred =
    filters.map(normalize).filter(_ != Unknown) match {
      case Seq() => Unknown
      case Seq(p) => p
      case ps => All(ps)
    }

  def normalize(e: Expression): Pred = e match {
    case And(l, r) => normalize(Seq(l, r))
    case Or(l, r) => (normalize(l), normalize(r)) match {
      case (Unknown, _) | (_, Unknown) => Unknown
      case (a, b) => AnyOf(Seq(a, b))
    }
    case EqualTo(a: AttributeReference, l: Literal) => eq(a, Seq(l))
    case EqualTo(l: Literal, a: AttributeReference) => eq(a, Seq(l))
    case EqualNullSafe(a: AttributeReference, l: Literal) => nullSafe(a, l)
    case EqualNullSafe(l: Literal, a: AttributeReference) => nullSafe(a, l)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      eq(a, vs.map(_.asInstanceOf[Literal]))
    case InSet(a: AttributeReference, vs) => eq(a, vs.toSeq.map(Literal(_, a.dataType)))
    case GreaterThan(a: AttributeReference, l: Literal) => range(a, l, lower = true, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => range(a, l, lower = true, strict = false)
    case LessThan(a: AttributeReference, l: Literal) => range(a, l, lower = false, strict = true)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => range(a, l, lower = false, strict = false)
    // literal first: 5 < a is a > 5
    case GreaterThan(l: Literal, a: AttributeReference) => range(a, l, lower = false, strict = true)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => range(a, l, lower = false, strict = false)
    case LessThan(l: Literal, a: AttributeReference) => range(a, l, lower = true, strict = true)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => range(a, l, lower = true, strict = false)
    case IsNull(a: AttributeReference) => Nulls(a.name, isNull = true)
    case IsNotNull(a: AttributeReference) => Nulls(a.name, isNull = false)
    // LIKE '%x%', 'x%' and '%x' reach the optimizer as these three
    case Contains(t, l: Literal) => text(t, l, prefix = false)
    case StartsWith(t, l: Literal) => text(t, l, prefix = true)
    case EndsWith(t, l: Literal) => text(t, l, prefix = false)
    case _ => Unknown
  }

  /** `p` may hold in a file where each leaf holds as `leaf` says. */
  def admits(p: Pred, leaf: Pred => Boolean): Boolean = p match {
    case All(ps) => ps.forall(admits(_, leaf))
    case AnyOf(ps) => ps.exists(admits(_, leaf))
    case Unknown => true
    case _ => leaf(p)
  }

  /** The columns `p`'s leaves name. */
  def columns(p: Pred): Set[String] = p match {
    case All(ps) => ps.flatMap(columns).toSet
    case AnyOf(ps) => ps.flatMap(columns).toSet
    case Unknown => Set.empty
    case Eq(c, _) => Set(c)
    case Range(c, _, _, _) => Set(c)
    case Nulls(c, _) => Set(c)
    case Text(c, _, _, _) => Set(c)
  }

  /** `l` in `a`'s type: Spark's analyzer already typed it so, a caller of
    * the explicit index API may pass another type (an Int for a BIGINT
    * column). None for NULL, which equals nothing, or a failed cast. */
  private def typed(a: AttributeReference, l: Literal): Option[Literal] =
    if (l.value == null) None
    else if (l.dataType == a.dataType) Some(l)
    else Try(Cast(l, a.dataType, Some("UTC")).eval()).toOption.flatMap(Option(_))
      .map(Literal(_, a.dataType))

  private def eq(a: AttributeReference, ls: Seq[Literal]): Pred = {
    val nonNull = ls.filter(_.value != null)
    val vs = nonNull.flatMap(typed(a, _))
    if (vs.isEmpty || vs.size < nonNull.size) Unknown else Eq(a.name, vs)
  }

  private def nullSafe(a: AttributeReference, l: Literal): Pred =
    if (l.value == null) Nulls(a.name, isNull = true) else eq(a, Seq(l))

  /** A cast literal keeps its bound only non-strictly: a strict bound
    * rounded onto the column's type could exclude the bound's own row. */
  private def range(a: AttributeReference, l: Literal, lower: Boolean, strict: Boolean): Pred =
    typed(a, l).fold(Unknown: Pred)(v =>
      Range(a.name, v, lower, strict && l.dataType == a.dataType))

  private def text(t: Expression, l: Literal, prefix: Boolean): Pred =
    if (l.value == null) Unknown
    else t match {
      case a: AttributeReference => Text(a.name, l.value.toString, prefix, lowered = false)
      case Lower(a: AttributeReference) => Text(a.name, l.value.toString, prefix, lowered = true)
      case _ => Unknown
    }
}
