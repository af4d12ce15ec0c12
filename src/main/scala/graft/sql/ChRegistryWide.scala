package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.{WideBinaryArith, WideCompare, WideNegate}
import org.apache.spark.sql.types._

/** Wide-integer surface: Int128 / UInt128 / Int256 / UInt256 conversions
  * plus width-aware dispatch for the reference's NAMED arithmetic and
  * comparison functions (src/Functions/plus.cpp, minus.cpp, multiply.cpp,
  * divide.cpp, intDiv.cpp, modulo.cpp, negate.cpp, gcd.cpp, lcm.cpp,
  * FunctionsComparison.h; type ranges in src/DataTypes/DataTypesNumber.cpp).
  *
  * Closes the documented Decimal(38) cap for exact integer arithmetic:
  * wide values are carried as canonical decimal strings and evaluated
  * exactly at ANY width by the static BigInteger kernels in
  * graft.functions.WideIntKernels (StaticInvoke — codegen inlines the
  * call; no Scala UDF). Width is applied at the conversion boundary:
  * toInt128(x) wraps into the signed 128-bit lane (C++ wraparound),
  * toInt128OrNull(x) NULLs out-of-range input (accurateCastOrNull),
  * OrZero coalesces the OrNull form to '0'.
  *
  * The named arithmetic/comparison functions (plus … lcm, equals …
  * greaterOrEquals, intDivOrZero, moduloOrZero) are WideBinaryArith /
  * WideCompare / WideNegate — RuntimeReplaceable dispatchers that build
  * the plain numeric Catalyst trees for all-numeric children and route
  * string-carried wide integers to the kernels. See
  * WideArithExpressions.scala.
  */
object ChRegistryWide {

  private val cls = classOf[graft.functions.WideIntKernels.type]

  private def toWide(e: Expression, bits: Int, signed: Boolean): Expression =
    StaticInvoke(cls, StringType, "toWide",
      Seq(Cast(e, StringType), Literal(bits), Literal(signed)),
      Seq(StringType, IntegerType, BooleanType))

  private def toWideOrNull(e: Expression, bits: Int, signed: Boolean): Expression =
    StaticInvoke(cls, StringType, "toWideOrNull",
      Seq(Cast(e, StringType), Literal(bits), Literal(signed)),
      Seq(StringType, IntegerType, BooleanType))

  private def orZero(e: Expression, bits: Int, signed: Boolean): Expression =
    Coalesce(Seq(toWideOrNull(e, bits, signed), Literal("0")))

  private def orDefault(args: Seq[Expression], bits: Int,
      signed: Boolean): Expression =
    ChConversions.orDefaultOf(a => toWideOrNull(a.head, bits, signed), args)

  private def bin(op: String): Seq[Expression] => Expression =
    args => WideBinaryArith(args(0), args(1), op)

  private def cmp(op: String): Seq[Expression] => Expression =
    args => WideCompare(args(0), args(1), op)

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // conversions: C++-wrap form + OrNull (range-checked) + OrZero
    "toint128" -> { a => toWide(a.head, 128, signed = true) },
    "touint128" -> { a => toWide(a.head, 128, signed = false) },
    "toint256" -> { a => toWide(a.head, 256, signed = true) },
    "touint256" -> { a => toWide(a.head, 256, signed = false) },
    "toint128ornull" -> { a => toWideOrNull(a.head, 128, signed = true) },
    "touint128ornull" -> { a => toWideOrNull(a.head, 128, signed = false) },
    "toint256ornull" -> { a => toWideOrNull(a.head, 256, signed = true) },
    "touint256ornull" -> { a => toWideOrNull(a.head, 256, signed = false) },
    "toint128orzero" -> { a => orZero(a.head, 128, signed = true) },
    "touint128orzero" -> { a => orZero(a.head, 128, signed = false) },
    "toint256orzero" -> { a => orZero(a.head, 256, signed = true) },
    "touint256orzero" -> { a => orZero(a.head, 256, signed = false) },
    "toint128ordefault" -> { a => orDefault(a, 128, signed = true) },
    "touint128ordefault" -> { a => orDefault(a, 128, signed = false) },
    "toint256ordefault" -> { a => orDefault(a, 256, signed = true) },
    "touint256ordefault" -> { a => orDefault(a, 256, signed = false) },

    // named arithmetic — width-dispatched (numeric tree or wide kernel)
    "plus" -> bin("plus"),
    "minus" -> bin("minus"),
    "multiply" -> bin("multiply"),
    "divide" -> bin("divide"),
    "intdiv" -> bin("intdiv"),
    "intdivorzero" -> bin("intdivorzero"),
    "modulo" -> bin("modulo"),
    "moduloorzero" -> bin("moduloorzero"),
    "gcd" -> bin("gcd"),
    "lcm" -> bin("lcm"),
    "negate" -> { a => WideNegate(a.head) },

    // named comparisons (UInt8 in the reference; BOOLEAN here, the
    // engine-wide predicate rendering)
    "equals" -> cmp("equals"),
    "notequals" -> cmp("notequals"),
    "less" -> cmp("less"),
    "greater" -> cmp("greater"),
    "lessorequals" -> cmp("lessorequals"),
    "greaterorequals" -> cmp("greaterorequals")
  )
}
