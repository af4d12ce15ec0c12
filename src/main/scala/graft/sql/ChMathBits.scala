package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import ChBuild._

/** Math, bit and logic functions (src/Functions/bitAnd.cpp …
  * bitTestAll.cpp, bitSlice.cpp, FunctionsRound.cpp, intExp2.cpp,
  * erf.cpp, lgamma.cpp, gcd.cpp, multiIf.cpp, caseWithExpression.cpp,
  * in.cpp, ztest.cpp, minSampleSize.cpp, the series* analytics): the
  * arithmetic tails beside the width-dispatched arithmetic names in
  * ChRegistryWide.
  *
  * ANSI-safe: division/modulo by zero sits behind lazy If guards; the
  * special functions run commons-math3 (ships with Spark) through
  * codegen'd static calls.
  */
object ChMathBits {

  /** (x >> n) & 1 as Int (reference bitTest.cpp returns UInt8). */
  private def bitAt(x: Expression, n: Expression): Expression =
    Cast(BitwiseAnd(ShiftRightUnsigned(asLong(x), asInt(n)), Literal(1L)), IntegerType)

  /** Ascending positions (0-based) of set bits in the low 64. */
  private def bitPositions(x: Expression): Expression = {
    val i = lv("ch_bit_i")
    ArrayFilter(
      Sequence(Literal(0L), Literal(63L), Some(Literal(1L))),
      LambdaFunction(EqualTo(bitAt(x, i), Literal(1)), Seq(i)))
  }

  private def isFiniteD(x: Expression): Expression = {
    val d = asDouble(x)
    And(Not(IsNaN(d)), LessThan(Abs(d), Literal(Double.PositiveInfinity)))
  }

  private def multiIf(args: Seq[Expression]): Expression = {
    val branches = args.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq
    CaseWhen(branches, Some(args.last))
  }

  private def moduloOrNull(args: Seq[Expression]): Expression =
    If(EqualTo(asLong(args(1)), Literal(0L)),
      Literal.create(null, LongType),
      Cast(Remainder(args(0), args(1)), LongType))

  private def pmodOrNull(args: Seq[Expression]): Expression = {
    val b = args(1)
    If(Or(IsNull(b), EqualTo(Cast(b, DoubleType), Literal(0.0))),
      Literal.create(null, DoubleType),
      Cast(Pmod(Cast(args(0), DoubleType), Cast(b, DoubleType)), DoubleType))
  }

  /** transform(x, [from], [to], default) under its alternate names
    * (caseWithExpression.cpp); Spark's `transform` builtin is the HOF, so
    * the reference's value-mapping form rides these registrations. */
  private def caseWith(args: Seq[Expression]): Expression = {
    val pos = ArrayPosition(args(1), args(0))
    val default = if (args.length > 3) args(3) else args(0)
    If(EqualTo(pos, Literal(0L)), default,
      ElementAt(args(2), Cast(pos, IntegerType), None, failOnError = false))
  }

  /** exists(set, e -> e = x), null-coalesced — the skip-NULLs
    * membership probe (an exists-equality, not array_contains, so a
    * NULL-typed literal needle still type-checks). */
  private def setContains(x: Expression, set: Expression): Expression =
    Coalesce(Seq(ArrayExists(set, lam1(e => EqualTo(e, x))),
      Literal(false)))

  /** in(x, set): NULL needle → NULL; NULLs in the set are skipped. */
  private def chIn(args: Seq[Expression]): Expression =
    If(IsNull(args(0)), Literal(null, BooleanType),
      setContains(args(0), args(1)))

  private def chNotIn(args: Seq[Expression]): Expression =
    If(IsNull(args(0)), Literal(null, BooleanType), Not(chIn(args)))

  /** nullIn(x, set): NULL is a value — NULL matches a set NULL. */
  private def chNullIn(args: Seq[Expression]): Expression =
    If(IsNull(args(0)),
      Coalesce(Seq(ArrayExists(args(1), lam1(e => IsNull(e))),
        Literal(false))),
      setContains(args(0), args(1)))

  // ---- commons-math3 specials (erf.cpp … lgamma via libm) -------------

  private def m3(cls: Class[_], fn: String)(e: Expression): Expression =
    StaticInvoke(cls, DoubleType, fn, Seq(asDouble(e)), Seq(DoubleType))

  private val erfCls = classOf[org.apache.commons.math3.special.Erf]
  private val gammaCls = classOf[org.apache.commons.math3.special.Gamma]

  private def erfc(e: Expression): Expression =
    StaticInvoke(erfCls, DoubleType, "erfc", Seq(asDouble(e)), Seq(DoubleType))

  private def erfInv(e: Expression): Expression =
    StaticInvoke(erfCls, DoubleType, "erfInv", Seq(asDouble(e)), Seq(DoubleType))

  // ---- proportionsZTest (ztest.cpp:155-212) ---------------------------

  private def proportionsZTest(args: Seq[Expression]): Expression = {
    val sx = asDouble(args(0)); val sy = asDouble(args(1))
    val tx = asDouble(args(2)); val ty = asDouble(args(3))
    val conf = asDouble(args(4))
    val unpooled = EqualTo(Lower(Cast(args(5), StringType)), Literal("unpooled"))
    val px = Divide(sx, tx); val py = Divide(sy, ty)
    val diff = Subtract(px, py)
    def omp(p: Expression) = Subtract(Literal(1.0), p)
    val se = Sqrt(Add(Divide(Multiply(px, omp(px)), tx),
      Divide(Multiply(py, omp(py)), ty)))
    val pPooled = Divide(Add(sx, sy), Add(tx, ty))
    val sePooled = Sqrt(Multiply(Multiply(pPooled, omp(pPooled)),
      Add(Divide(Literal(1.0), tx), Divide(Literal(1.0), ty))))
    val z = If(unpooled, Divide(diff, se), Divide(diff, sePooled))
    // p = 2 * (1 - Phi(|z|)) = erfc(|z| / sqrt(2))
    val p = erfc(Divide(Abs(z), Literal(math.sqrt(2.0))))
    // quantile z for the CI: Phi^-1 at (1+conf)/2 = sqrt(2) * erfInv(conf)
    val zq = Multiply(Literal(math.sqrt(2.0)), erfInv(conf))
    val dist = Multiply(zq, se)
    val bad = Or(Or(EqualTo(sx, Literal(0.0)), EqualTo(sy, Literal(0.0))),
      Or(Or(GreaterThan(sx, tx), GreaterThan(sy, ty)),
        Or(LessThan(conf, Literal(0.0)), GreaterThan(conf, Literal(1.0)))))
    val nan = Literal(Double.NaN)
    CreateStruct(Seq(
      If(bad, nan, z), If(bad, nan, p),
      If(bad, nan, Subtract(diff, dist)), If(bad, nan, Add(diff, dist))))
  }

  // ---- A/B-test sample sizing (minSampleSize.cpp named tuples) --------

  private def namedStruct(pairs: (String, Expression)*): Expression =
    CreateNamedStruct(pairs.flatMap { case (n, e) => Seq(Literal(n), e) })

  private def minSampleContinuous(args: Seq[Expression]): Expression = {
    val d = args.map(Cast(_, DoubleType))
    val size = sweep6(DoubleType, "minSampleContinuous", d.take(5),
      Seq.fill(5)(DoubleType))
    val delta = Multiply(d(0), d(2))
    namedStruct(
      "minimum_sample_size" -> size,
      "detect_range_lower" -> Subtract(d(0), delta),
      "detect_range_upper" -> Add(d(0), delta))
  }

  private val hkCls = classOf[graft.functions.HashKernels.type]

  val builders: Seq[(String, Builder)] = Seq(
    // conditionals (multiIf.cpp; caseWithoutExpression is its alias)
    "multiif" -> multiIf _,
    "casewithoutexpr" -> multiIf _,
    "casewithoutexpression" -> multiIf _,
    "casewithexpression" -> caseWith _,
    "casewithexpr" -> caseWith _,
    "assumenotnull" -> (args => args.head),
    "isnotdistinctfrom" -> (args => EqualNullSafe(args(0), args(1))),
    "xor" -> (args => args.map(a =>
      Cast(a, BooleanType): Expression).reduceLeft((a, b) =>
      Not(EqualTo(a, b)))),
    // -- the IN-operator FUNCTION spellings (src/Functions/in.cpp
    // registers all eight as user-callable FunctionFactory entries;
    // `in` itself is the Spark builtin). GLOBAL twins are identical
    // trees (GLOBAL is a distribution hint — Catalyst owns that).
    // null_is_skipped lanes (in/notIn): NULL needle → NULL, set NULLs
    // skipped; nullIn lanes treat NULL as a value (NULL matches NULL).
    // The set argument is an ARRAY on this engine (documented).
    "notin" -> (args => chNotIn(args)),
    "globalin" -> (args => chIn(args)),
    "globalnotin" -> (args => chNotIn(args)),
    "nullin" -> (args => chNullIn(args)),
    "globalnullin" -> (args => chNullIn(args)),
    "notnullin" -> (args => Not(chNullIn(args))),
    "globalnotnullin" -> (args => Not(chNullIn(args))),

    // ---- bit manipulation (bitAnd.cpp … bitTestAll.cpp, bitSlice.cpp) ----
    "bitand" -> (args => BitwiseAnd(args(0), args(1))),
    "bitor" -> (args => BitwiseOr(args(0), args(1))),
    "bitxor" -> (args => BitwiseXor(args(0), args(1))),
    "bitnot" -> (args => BitwiseNot(args.head)),
    "bitshiftleft" -> (args => ShiftLeft(args(0), asInt(args(1)))),
    "bitshiftright" -> (args => ShiftRight(args(0), asInt(args(1)))),
    // 64-bit rotate (bitRotateLeft.cpp); shift counts taken mod 64
    "bitrotateleft" -> (args => {
      val n = Pmod(asInt(args(1)), Literal(64))
      BitwiseOr(ShiftLeft(asLong(args(0)), n),
        ShiftRightUnsigned(asLong(args(0)), Subtract(Literal(64), n)))
    }),
    "bitrotateright" -> (args => {
      val n = Pmod(asInt(args(1)), Literal(64))
      BitwiseOr(ShiftRightUnsigned(asLong(args(0)), n),
        ShiftLeft(asLong(args(0)), Subtract(Literal(64), n)))
    }),
    "bitcount" -> (args => BitwiseCount(args.head)),
    "bittest" -> (args => bitAt(args(0), args(1))),
    "bittestall" -> (args =>
      args.tail.map(n => EqualTo(bitAt(args.head, n), Literal(1)): Expression)
        .reduce(And)),
    "bittestany" -> (args =>
      args.tail.map(n => EqualTo(bitAt(args.head, n), Literal(1)): Expression)
        .reduce(Or)),
    "bithammingdistance" -> (args =>
      Cast(BitwiseCount(BitwiseXor(asLong(args(0)), asLong(args(1)))), IntegerType)),
    "bitpositionstoarray" -> (args => bitPositions(args.head)),
    "bitmasktoarray" -> (args => {
      val i = lv("ch_bm_i")
      ArrayTransform(bitPositions(args.head),
        LambdaFunction(ShiftLeft(Literal(1L), asInt(i)), Seq(i)))
    }),
    "bitmasktolist" -> (args => {
      val i = lv("ch_bl_i")
      ArrayJoin(
        ArrayTransform(bitPositions(args.head),
          LambdaFunction(Cast(ShiftLeft(Literal(1L), asInt(i)), StringType), Seq(i))),
        Literal(","), None)
    }),
    "bitslice" -> (args => StaticInvoke(hkCls, BinaryType, "bitSlice",
      Seq(Cast(args(0), BinaryType), Cast(args(1), IntegerType),
        Cast(args(2), IntegerType)),
      Seq(BinaryType, IntegerType, IntegerType))),
    "byteswap" -> (args =>
      StaticInvoke(classOf[java.lang.Long], LongType, "reverseBytes",
        Seq(asLong(args.head)), Seq(LongType))),

    // ---- arithmetic tails and rounding ----
    // math
    "intexp2" -> (args => Cast(Pow(Literal(2.0), Cast(args.head, DoubleType)), LongType)),
    "intexp10" -> (args => Cast(Pow(Literal(10.0), Cast(args.head, DoubleType)), LongType)),

    "exp2" -> (args => Pow(Literal(2.0d), asDouble(args.head))),
    "exp10" -> (args => Pow(Literal(10.0d), asDouble(args.head))),
    "clamp" -> (args => Least(Seq(Greatest(Seq(args(0), args(1))), args(2)))),
    // hypot NOT registered: Spark builtin of the same name and semantics
    // (the battery's hypot(3,4) resolves natively).
    "sigmoid" -> (args =>
      Divide(Literal(1.0d),
        Add(Literal(1.0d), Exp(UnaryMinus(asDouble(args.head)))))),
    // min2/max2 return Float64 (src/Functions/minus… min2.cpp)
    "min2" -> (args => Least(Seq(asDouble(args(0)), asDouble(args(1))))),
    "max2" -> (args => Greatest(Seq(asDouble(args(0)), asDouble(args(1))))),
    "divideornull" -> (args =>
      If(EqualTo(asDouble(args(1)), Literal(0.0d)),
        Literal.create(null, DoubleType),
        Divide(asDouble(args(0)), asDouble(args(1))))),
    "moduloornull" -> moduloOrNull _,
    "modornull" -> moduloOrNull _,
    "intdivornull" -> (args =>
      If(EqualTo(asLong(args(1)), Literal(0L)),
        Literal.create(null, LongType), IntegralDivide(args(0), args(1)))),
    "modulolegacy" -> (args => Remainder(args(0), args(1))),

    "positivemodulo" -> (args => Pmod(args(0), args(1))),
    "positive_modulo" -> (args => Pmod(args(0), args(1))),
    "pmodornull" -> pmodOrNull _,
    "positivemoduloornull" -> pmodOrNull _,
    "positive_modulo_or_null" -> pmodOrNull _,
    "dividedecimal" -> (args => {
      val scale = args.lift(2) match {
        case Some(Literal(i: Int, _)) => i
        case _ => 10
      }
      Cast(Divide(Cast(args(0), DecimalType(38, 18)),
        Cast(args(1), DecimalType(38, 18))), DecimalType(38, scale))
    }),
    "multiplydecimal" -> (args => {
      val scale = args.lift(2) match {
        case Some(Literal(i: Int, _)) => i
        case _ => 10
      }
      Cast(Multiply(Cast(args(0), DecimalType(19, 9)),
        Cast(args(1), DecimalType(19, 9))), DecimalType(38, scale))
    }),
    "ifnotfinite" -> (args => If(isFiniteD(args(0)), args(0), args(1))),
    "isfinite" -> (args => isFiniteD(args.head)),
    "isinfinite" -> (args =>
      EqualTo(Abs(asDouble(args.head)), Literal(Double.PositiveInfinity))),
    "iszeroornull" -> (args =>
      Or(IsNull(args.head), EqualTo(args.head, Literal(0)))),
    "inf" -> (_ => Literal(Double.PositiveInfinity)),
    "nan" -> (_ => Literal(Double.NaN)),
    "countdigits" -> (args =>
      Length(Cast(Abs(asLong(args.head)), StringType))),

    // isDecimalOverflow(d[, precision])
    "isdecimaloverflow" -> (args => {
      val d = args.head
      val (p0, s0) = d.dataType match {
        case t: DecimalType => (t.precision, t.scale)
        case _ => (38, 6)
      }
      val prec = args.lift(1).getOrElse(Literal(p0))
      sweep9(BooleanType, "isDecimalOverflow",
        Seq(Cast(d, DecimalType(38, s0)), Cast(prec, IntegerType)),
        Seq(DecimalType(38, s0), IntegerType))
    }),

    // rounding specials (FunctionsRound.cpp: roundToExp2, roundDuration,
    // roundAge — threshold-bucket rounding)
    "roundtoexp2" -> (args => {
      val x = Cast(args.head, DoubleType)
      If(LessThan(x, Literal(1.0)), Literal(0L),
        Cast(Pow(Literal(2.0), Floor(Log2(x))), LongType))
    }),
    "roundduration" -> (args => {
      val x = Cast(args.head, LongType)
      val buckets = Seq(36000L, 18000L, 7200L, 3600L, 1800L, 1200L, 600L,
        300L, 240L, 180L, 120L, 60L, 30L, 10L, 1L)
      buckets.foldRight(Literal(0L): Expression)((t, acc) =>
        If(GreaterThanOrEqual(x, Literal(t)), Literal(t), acc))
    }),
    "roundage" -> (args => {
      val x = Cast(args.head, LongType)
      val steps = Seq(55L -> 55L, 45L -> 45L, 35L -> 35L, 25L -> 25L,
        18L -> 18L, 1L -> 17L)
      steps.foldRight(Literal(0L): Expression) { case ((lo, out), acc) =>
        If(GreaterThanOrEqual(x, Literal(lo)), Literal(out), acc)
      }
    }),
    "roundbankers" -> (args =>
      BRound(args.head, args.lift(1).getOrElse(Literal(0)))),
    "rounddown" -> (args => sweep8(DoubleType, "roundDown",
      Seq(Cast(args(0), DoubleType), Cast(args(1), ArrayType(DoubleType))),
      Seq(DoubleType, ArrayType(DoubleType)))),
    "truncate" -> (args => {
      val x = asDouble(args.head)
      if (args.length == 1)
        Multiply(Cast(Signum(x), DoubleType),
          Cast(Floor(Abs(x, failOnError = false)), DoubleType))
      else {
        val scale = Pow(Literal(10.0), asDouble(args(1)))
        Divide(Multiply(Cast(Signum(x), DoubleType),
          Cast(Floor(Multiply(Abs(x, failOnError = false), scale)),
            DoubleType)), scale)
      }
    }),

    // ---- special functions and statistics ----
    "erf" -> (args => m3(erfCls, "erf")(args.head)),
    "erfc" -> (args => m3(erfCls, "erfc")(args.head)),
    "lgamma" -> (args => m3(gammaCls, "logGamma")(args.head)),
    "tgamma" -> (args => m3(gammaCls, "gamma")(args.head)),
    "proportionsztest" -> (args => proportionsZTest(args)),

    "minsamplesizecontinous" -> (args => minSampleContinuous(args)),
    "minsamplesizecontinuous" -> (args => minSampleContinuous(args)),
    "minsamplesizeconversion" -> (args => {
      val d = args.map(Cast(_, DoubleType))
      val size = sweep6(DoubleType, "minSampleConversion", d.take(4),
        Seq.fill(4)(DoubleType))
      namedStruct(
        "minimum_sample_size" -> size,
        "detect_range_lower" -> Subtract(d(0), d(1)),
        "detect_range_upper" -> Add(d(0), d(1)))
    }),

    // ---- series analytics (seriesOutliersDetectTukey.cpp,
    // seriesPeriodDetectFFT.cpp) ---------------------------------------
    "seriesoutliersdetecttukey" -> (args => sweep6(ArrayType(DoubleType),
      "seriesOutliersTukey",
      Seq(Cast(args(0), ArrayType(DoubleType)),
        args.lift(1).map(Cast(_, DoubleType)).getOrElse(Literal(0.25)),
        args.lift(2).map(Cast(_, DoubleType)).getOrElse(Literal(0.75)),
        args.lift(3).map(Cast(_, DoubleType)).getOrElse(Literal(1.5))),
      Seq(ArrayType(DoubleType), DoubleType, DoubleType, DoubleType))),
    "seriesperioddetectfft" -> (args => sweep6(DoubleType, "seriesPeriodFFT",
      Seq(Cast(args.head, ArrayType(DoubleType))),
      Seq(ArrayType(DoubleType)))),

    // ---- seriesDecomposeSTL (seriesDecomposeSTL.cpp; STL re-implemented
    // from the published Cleveland et al. 1990 procedure — see
    // functions/SeriesStl.scala): [seasonal, trend, residue, baseline]
    "seriesdecomposestl" -> (args => StaticInvoke(
      classOf[graft.functions.SeriesStl.type],
      ArrayType(ArrayType(FloatType)), "stl",
      Seq(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), IntegerType)),
      Seq(ArrayType(DoubleType), IntegerType))))
}
