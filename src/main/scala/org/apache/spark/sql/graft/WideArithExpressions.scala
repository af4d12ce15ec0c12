package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Analysis-time type dispatch for the reference's NAMED arithmetic and
  * comparison functions (plus/minus/multiply/divide/intDiv/modulo/negate/
  * gcd/lcm, equals/less/..., src/Functions/plus.cpp et al.).
  *
  * The reference resolves these over its full numeric lattice, including
  * Int128/Int256 (src/DataTypes/DataTypesNumber.cpp) — widths Spark's
  * DECIMAL(38) cannot carry. This engine carries wide integers as
  * canonical decimal strings, so each name dispatches on its RESOLVED
  * child types, exactly how the reference's type inference picks an
  * implementation per width:
  *
  *   - all-numeric children → the same native Catalyst tree the registry
  *     always built (Add/Subtract/…, codegen'd, zero regression), and
  *   - any string-typed child → the exact BigInteger/BigDecimal kernels
  *     in graft.functions.WideIntKernels via StaticInvoke.
  *
  * RuntimeReplaceable makes the dispatch an analysis/optimizer-time
  * substitution — the physical plan only ever sees the chosen branch.
  */
private[graft] object WideArith {
  private val cls = classOf[graft.functions.WideIntKernels.type]

  def str(e: Expression): Expression = Cast(e, StringType)

  def k1(fn: String, a: Expression): Expression =
    StaticInvoke(cls, StringType, fn, Seq(str(a)), Seq(StringType))

  def k2(fn: String, a: Expression, b: Expression): Expression =
    StaticInvoke(cls, StringType, fn, Seq(str(a), str(b)),
      Seq(StringType, StringType))

  def kDivMod(fn: String, a: Expression, b: Expression, orZero: Boolean): Expression =
    StaticInvoke(cls, StringType, fn,
      Seq(str(a), str(b), Literal(orZero)),
      Seq(StringType, StringType, BooleanType))

  def kDivide(a: Expression, b: Expression): Expression =
    StaticInvoke(cls, DoubleType, "divide", Seq(str(a), str(b)),
      Seq(StringType, StringType))

  /** Exact three-way compare: numeric when both sides parse, binary
    * collation otherwise. Never null for non-null inputs. */
  def kCmp(a: Expression, b: Expression): Expression =
    StaticInvoke(cls, IntegerType, "cmp", Seq(str(a), str(b)),
      Seq(StringType, StringType))

  private def asLong(e: Expression): Expression = Cast(e, LongType)

  private val bigIntType = ObjectType(classOf[java.math.BigInteger])

  private def bigInt(e: Expression): Expression =
    StaticInvoke(classOf[java.math.BigInteger], bigIntType, "valueOf",
      Seq(asLong(e)), Seq(LongType))

  /** Long-range gcd via BigInteger: the all-numeric branch of the named
    * gcd/lcm functions (gcd.cpp), a codegen'd object-call chain. */
  def gcdLong(a: Expression, b: Expression): Expression =
    Invoke(Invoke(bigInt(a), "gcd", bigIntType, Seq(bigInt(b))),
      "longValueExact", LongType)

  def lcmLong(a: Expression, b: Expression): Expression =
    If(Or(EqualTo(asLong(a), Literal(0L)), EqualTo(asLong(b), Literal(0L))),
      Literal(0L),
      Abs(Multiply(IntegralDivide(asLong(a), gcdLong(a, b)), asLong(b))))

  /** RuntimeReplaceable replacements are NOT revisited by the analyzer's
    * implicit-cast rules — the numeric branches must be resolved by
    * construction. Widen both sides to their tightest common type
    * (Catalyst's own ladder, so decimal precision rules match what the
    * pre-dispatch builders got from the analyzer). */
  def widen(a: Expression, b: Expression): (Expression, Expression) =
    if (a.dataType == b.dataType) (a, b)
    else org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findWiderTypeForTwo(a.dataType, b.dataType) match {
      case Some(t) => (Cast(a, t), Cast(b, t))
      case None    => (a, b)
    }

  /** IntegralDivide accepts only LongType/DecimalType — mirror the
    * analyzer's coercion for the `div` operator. */
  def intDivOperands(a: Expression, b: Expression): (Expression, Expression) = {
    val (wa, wb) = widen(a, b)
    wa.dataType match {
      case _: DecimalType | LongType => (wa, wb)
      case _ => (Cast(wa, LongType), Cast(wb, LongType))
    }
  }
}

/** Binary arithmetic with numeric/wide dispatch; `op` is the lowercase
  * registry name. */
case class WideBinaryArith(left: Expression, right: Expression, op: String)
  extends Expression with RuntimeReplaceable with BinaryLike[Expression] {

  import WideArith._

  override def prettyName: String = op

  private def anyString: Boolean =
    left.dataType == StringType || right.dataType == StringType

  override lazy val replacement: Expression =
    if (anyString) op match {
      case "plus"         => k2("plus", left, right)
      case "minus"        => k2("minus", left, right)
      case "multiply"     => k2("multiply", left, right)
      case "divide"       => kDivide(left, right)
      case "intdiv"       => kDivMod("intDiv", left, right, orZero = false)
      case "intdivorzero" => kDivMod("intDiv", left, right, orZero = true)
      case "modulo"       => kDivMod("modulo", left, right, orZero = false)
      case "moduloorzero" => kDivMod("modulo", left, right, orZero = true)
      case "gcd"          => k2("gcd", left, right)
      case "lcm"          => k2("lcm", left, right)
    } else {
      lazy val (wl, wr) = widen(left, right)
      lazy val (dl, dr) = intDivOperands(left, right)
      op match {
        case "plus"         => Add(wl, wr)
        case "minus"        => Subtract(wl, wr)
        case "multiply"     => Multiply(wl, wr)
        case "divide"       => Divide(Cast(left, DoubleType), Cast(right, DoubleType))
        case "intdiv"       => IntegralDivide(dl, dr)
        case "intdivorzero" =>
          val d = IntegralDivide(dl, dr)
          If(EqualTo(Cast(right, LongType), Literal(0L)),
            Cast(Literal(0L), d.dataType), d)
        case "modulo"       => Remainder(wl, wr)
        case "moduloorzero" =>
          val m = Remainder(wl, wr)
          If(EqualTo(Cast(right, LongType), Literal(0L)),
            Cast(Literal(0), m.dataType), m)
        case "gcd"          => gcdLong(left, right)
        case "lcm"          => lcmLong(left, right)
      }
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Named comparisons (FunctionsComparison.h): native comparison for
  * all-numeric children; exact any-width numeric compare (with binary
  * collation fallback for non-numeric strings) when a string child is
  * present. */
case class WideCompare(left: Expression, right: Expression, op: String)
  extends Expression with RuntimeReplaceable with BinaryLike[Expression] {

  import WideArith._

  override def prettyName: String = op

  private def anyString: Boolean =
    left.dataType == StringType || right.dataType == StringType

  override lazy val replacement: Expression = {
    val (l, r): (Expression, Expression) =
      if (anyString) (kCmp(left, right), Literal(0))
      else WideArith.widen(left, right)
    op match {
      case "equals"          => EqualTo(l, r)
      case "notequals"       => Not(EqualTo(l, r))
      case "less"            => LessThan(l, r)
      case "greater"         => GreaterThan(l, r)
      case "lessorequals"    => LessThanOrEqual(l, r)
      case "greaterorequals" => GreaterThanOrEqual(l, r)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** negate (negate.cpp): UnaryMinus for numerics, exact wide negation for
  * string-carried integers. */
case class WideNegate(child: Expression)
  extends Expression with RuntimeReplaceable with UnaryLike[Expression] {

  import WideArith._

  override def prettyName: String = "negate"

  override lazy val replacement: Expression =
    if (child.dataType == StringType) k1("negate", child)
    else UnaryMinus(child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
