package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.{ReinterpretToFloat, ReinterpretToLong, ReinterpretToString}
import org.apache.spark.sql.types._

import ChBuild._

/** Type conversions (src/Functions/FunctionsConversion.cpp,
  * reinterpretAs.cpp, toFixedString.h, FunctionsCodingUUID.cpp): the
  * toX casts, the OrNull / OrZero / OrDefault lanes, accurateCast,
  * decimal, UUID, IPv4/IPv6 and BFloat16 conversions, and the raw
  * byte-image reinterpretations.
  *
  * OrNull forms are TRY-mode casts; throw-on-bad-input reference forms
  * are rendered as their OrNull twin (this engine does not throw
  * per-row). Unsigned lanes ride widened carriers (UInt8 → Int16,
  * UInt16 → Int32, UInt32 → Int64, UInt64 → DECIMAL(20,0)).
  */
object ChConversions {

  private def cast(dt: DataType): Builder = args => Cast(args.head, dt)

  /** Reference type-name → Spark carrier type (the toX cast family's
    * mapping; UInt64 keeps the widening DECIMAL(20,0) carrier). */
  private def chTypeName(n0: String): DataType = {
    // unwrap Nullable(T) / LowCardinality(T) wrappers (type sugar in the
    // reference's type system; Spark columns are nullable by default)
    val wrapper = "(?i)^(nullable|lowcardinality)\\((.*)\\)$".r
    val n = n0.trim match {
      case wrapper(_, inner) => return chTypeName(inner)
      case other => other
    }
    n.toLowerCase match {
    case "int8" => ByteType
    case "int16" => ShortType
    case "int32" => IntegerType
    case "int64" => LongType
    case "uint8" => ShortType
    case "uint16" => IntegerType
    case "uint32" => LongType
    case "uint64" => DecimalType(20, 0)
    case "float32" => FloatType
    case "float64" | "double" => DoubleType
    case "string" => StringType
    case "date" | "date32" => DateType
    case "datetime" | "datetime64" => TimestampType
    case "bool" | "boolean" => BooleanType
    case other =>
      throw new IllegalArgumentException(s"accurateCast: unsupported type '$other'")
    }
  }

  private def typeArg(e: Expression): DataType = e match {
    case Literal(s, StringType) => chTypeName(s.toString)
    case other =>
      throw new IllegalArgumentException(
        s"accurateCast expects a literal type name, got $other")
  }

  private def tryTo(t: DataType)(e: Expression): Expression =
    Cast(e, t, None, EvalMode.TRY)
  private def orNull(t: DataType): Builder =
    args => tryTo(t)(args.head)
  private def orZero(t: DataType, zero: Expression): Builder =
    args => Coalesce(Seq(tryTo(t)(args.head), zero))
  private def orDefault(t: DataType): Builder =
    args => Coalesce(Seq(tryTo(t)(args.head), Cast(args(1), t)))

  /** OrDefault over an OrNull lane: COALESCE(OrNull(x), CAST(default AS
    * the lane's type)); trailing lane arguments (a decimal scale) pass
    * through. */
  private[sql] def orDefaultOf(orNullLane: Builder,
      args: Seq[Expression]): Expression = {
    val base = orNullLane(Seq(args.head) ++ args.drop(2))
    if (args.length > 1) Coalesce(Seq(base, Cast(args(1), base.dataType)))
    else base
  }

  /** Unsigned lanes: range-checked (the reference's OrNull/OrZero reject
    * out-of-range rather than wrapping) on the established carriers
    * (uint8→Int16, uint16→Int32, uint32→Int64). */
  private def uintLane(bits: Int, carrier: DataType,
      orElse: Option[Expression]): Builder = args => {
    val v = tryTo(LongType)(args.head)
    val max = Literal((1L << bits) - 1L)
    val inRange = And(GreaterThanOrEqual(v, Literal(0L)),
      LessThanOrEqual(v, max))
    val ok: Expression =
      Cast(If(inRange, v, Literal.create(null, LongType)), carrier)
    orElse.fold(ok)(z => Coalesce(Seq(ok, z)))
  }

  /** UInt64 carrier is DECIMAL(20,0), which also holds values in
    * [2^64, 10^20) and negatives — so the TRY cast alone would silently
    * accept out-of-UInt64-range input. Guard the actual [0, 2^64-1]
    * domain explicitly (overflow must be loud). */
  private def u64Try(arg: Expression): Expression = {
    val d = Cast(arg, DecimalType(20, 0), None, EvalMode.TRY)
    val zero = Literal(Decimal(BigDecimal(0), 20, 0), DecimalType(20, 0))
    val max = Literal(
      Decimal(BigDecimal("18446744073709551615"), 20, 0), DecimalType(20, 0))
    CaseWhen(
      Seq((And(GreaterThanOrEqual(d, zero), LessThanOrEqual(d, max)), d)),
      Some(Literal.create(null, DecimalType(20, 0))))
  }

  /** toDecimalN(value, scale) — scale must be a foldable literal. */
  private def decimalLane(precision: Int, mode: EvalMode.Value): Builder =
    args => {
      require(args.size >= 2 && args(1).foldable,
        "toDecimal*: scale must be a constant")
      val s = args(1).eval().toString.toInt
      Cast(args.head, DecimalType(precision, s), None, mode)
    }
  private def decimalOrZero(precision: Int): Builder =
    args => {
      val s = args(1).eval().toString.toInt
      Coalesce(Seq(Cast(args.head, DecimalType(precision, s), None,
        EvalMode.TRY), Cast(Literal(0), DecimalType(precision, s))))
    }

  private val dateZero = Literal.create(0, DateType) // 1970-01-01
  private val tsZero = Literal.create(0L, TimestampType)

  private val uuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  private val zeroUuid = "00000000-0000-0000-0000-000000000000"

  private def uuidOrNull(e: Expression): Expression =
    If(RLike(Cast(e, StringType), Literal(uuidRe)),
      Lower(Cast(e, StringType)), Literal.create(null, StringType))

  private val ipv4Re = Literal(
    "^(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])){3}$")
  /** Canonical dotted-quad (validated); invalid input → NULL. */
  private def ipv4OrNull(e: Expression): Expression = {
    val s = Cast(e, StringType)
    If(RLike(s, ipv4Re), s, Literal.create(null, StringType))
  }

  private val ipv6Cls = classOf[graft.functions.Ipv6CastKernels.type]

  private def reinterpretWide(args: Seq[Expression], width: Int,
      signed: Boolean): Expression =
    StaticInvoke(ipv6Cls, StringType, "reinterpretWide",
      Seq(Cast(args.head, BinaryType), Literal(width), Literal(signed)),
      Seq(BinaryType, IntegerType, BooleanType))

  /** reinterpretAs* (reinterpretAs.cpp): raw LE byte-image
    * reinterpretation, never numeric conversion. Unsigned lanes use the
    * widened carriers. Interpreter-only expressions — a codec/diagnostic
    * surface, not a hot path. reinterpret(x, 'Type') dispatches over the
    * same table. */
  private val reinterpretLanes: Seq[(String, Expression => Expression)] = Seq(
    "uint8" -> (e => ReinterpretToLong(e, 8, ShortType)),
    "uint16" -> (e => ReinterpretToLong(e, 16, IntegerType)),
    "uint32" -> (e => ReinterpretToLong(e, 32, LongType)),
    "uint64" -> (e => ReinterpretToLong(e, 64, DecimalType(20, 0))),
    "int8" -> (e => ReinterpretToLong(e, 8, ByteType)),
    "int16" -> (e => ReinterpretToLong(e, 16, ShortType)),
    "int32" -> (e => ReinterpretToLong(e, 32, IntegerType)),
    "int64" -> (e => ReinterpretToLong(e, 64, LongType)),
    "float32" -> (e => ReinterpretToFloat(e, wide = false)),
    "float64" -> (e => ReinterpretToFloat(e, wide = true)),
    "date" -> (e => ReinterpretToLong(e, 16, DateType)),
    "datetime" -> (e => ReinterpretToLong(e, 32, TimestampType)),
    "string" -> (e => ReinterpretToString(e, cutTrailingZeros = true)))

  val builders: Seq[(String, Builder)] = Seq[(String, Builder)](
    "toint8" -> cast(ByteType), "toint16" -> cast(ShortType),
    "toint32" -> cast(IntegerType), "toint64" -> cast(LongType),
    // CH toUIntN wraps mod 2^N on overflow (FunctionsConversion.h) — pmod
    // reproduces the wrap; toUInt64 keeps the widening DECIMAL(20,0) cast
    // (no 64-bit unsigned carrier in Spark; negative wrap NOT reproduced).
    "touint8" -> (args =>
      Cast(Pmod(Cast(args.head, LongType), Literal(256L)), ShortType)),
    "touint16" -> (args =>
      Cast(Pmod(Cast(args.head, LongType), Literal(65536L)), IntegerType)),
    "touint32" -> (args =>
      Pmod(Cast(args.head, LongType), Literal(4294967296L))),
    "touint64" -> cast(DecimalType(20, 0)),
    "tofloat32" -> cast(FloatType), "tofloat64" -> cast(DoubleType),
    "tostring" -> cast(StringType), "todate" -> cast(DateType),
    "todatetime" -> cast(TimestampType),
    "toint32ornull" -> orNull(IntegerType),
    "toint64ornull" -> orNull(LongType),
    "tofloat64ornull" -> orNull(DoubleType),
    "toint32orzero" -> orZero(IntegerType, Literal(0)),
    "toint64orzero" -> orZero(LongType, Literal(0L)),
    "touint64ornull" -> (args => u64Try(args.head)),
    "touint64orzero" -> (args =>
      Coalesce(Seq(u64Try(args.head), Cast(Literal(0), DecimalType(20, 0))))),
    "tofixedstring" -> (args => Cast(sweep7(BinaryType, "toFixedString",
      Seq(Cast(args.head, StringType), Cast(args(1), IntegerType)),
      Seq(StringType, IntegerType)), StringType)),

    "toint8ornull" -> orNull(ByteType),
    "toint16ornull" -> orNull(ShortType),
    "toint8orzero" -> orZero(ByteType, Literal(0.toByte)),
    "toint16orzero" -> orZero(ShortType, Literal(0.toShort)),
    "toint8ordefault" -> orDefault(ByteType),
    "toint16ordefault" -> orDefault(ShortType),
    "toint32ordefault" -> orDefault(IntegerType),
    "toint64ordefault" -> orDefault(LongType),
    "tofloat32orzero" -> orZero(FloatType, Literal(0f)),
    "tofloat32ornull" -> orNull(FloatType),
    "tofloat64orzero" -> orZero(DoubleType, Literal(0d)),
    "tofloat32ordefault" -> orDefault(FloatType),
    "tofloat64ordefault" -> orDefault(DoubleType),

    "touint8ornull" -> uintLane(8, ShortType, None),
    "touint16ornull" -> uintLane(16, IntegerType, None),
    "touint32ornull" -> uintLane(32, LongType, None),
    "touint8orzero" -> uintLane(8, ShortType, Some(Literal(0.toShort))),
    "touint16orzero" -> uintLane(16, IntegerType, Some(Literal(0))),
    "touint32orzero" -> uintLane(32, LongType, Some(Literal(0L))),
    "touint8ordefault" -> (args =>
      Coalesce(Seq(uintLane(8, ShortType, None)(args),
        Cast(args(1), ShortType)))),
    "touint16ordefault" -> (args =>
      Coalesce(Seq(uintLane(16, IntegerType, None)(args),
        Cast(args(1), IntegerType)))),
    "touint32ordefault" -> (args =>
      Coalesce(Seq(uintLane(32, LongType, None)(args),
        Cast(args(1), LongType)))),
    "touint64ordefault" -> (args =>
      Coalesce(Seq(tryTo(DecimalType(20, 0))(args.head),
        Cast(args(1), DecimalType(20, 0))))),

    "todateornull" -> orNull(DateType),
    "todateorzero" -> orZero(DateType, dateZero),
    "todateordefault" -> orDefault(DateType),
    "todate32ornull" -> orNull(DateType),
    "todate32orzero" -> orZero(DateType, dateZero),
    "todate32ordefault" -> orDefault(DateType),
    "todatetimeornull" -> orNull(TimestampType),
    "todatetimeorzero" -> orZero(TimestampType, tsZero),
    "todatetimeordefault" -> orDefault(TimestampType),
    // DateTime64: the micros-precision TimestampType carrier — the scale
    // argument is accepted and capped at 6 (documented deviation)
    "todatetime64" -> (args => Cast(args.head, TimestampType)),
    "todatetime64ornull" -> (args => tryTo(TimestampType)(args.head)),
    "todatetime64orzero" -> (args =>
      Coalesce(Seq(tryTo(TimestampType)(args.head), tsZero))),
    "todatetime64ordefault" -> (args =>
      Coalesce(Seq(tryTo(TimestampType)(args.head),
        Cast(args.last, TimestampType)))),

    "todecimal32" -> decimalLane(9, EvalMode.ANSI),
    "todecimal64" -> decimalLane(18, EvalMode.ANSI),
    "todecimal128" -> decimalLane(38, EvalMode.ANSI),
    "todecimal256" -> decimalLane(38, EvalMode.ANSI),
    "todecimal32ornull" -> decimalLane(9, EvalMode.TRY),
    "todecimal64ornull" -> decimalLane(18, EvalMode.TRY),
    "todecimal128ornull" -> decimalLane(38, EvalMode.TRY),
    "todecimal256ornull" -> decimalLane(38, EvalMode.TRY),
    "todecimal32orzero" -> decimalOrZero(9),
    "todecimal64orzero" -> decimalOrZero(18),
    "todecimal128orzero" -> decimalOrZero(38),
    "todecimal256orzero" -> decimalOrZero(38),

    "toipv4" -> (args => {
      val s = Cast(args.head, StringType)
      // invalid input raises (AssertTrue returns NULL on pass, so the
      // coalesce yields the validated address or the thrown error)
      Coalesce(Seq(ipv4OrNull(s), Cast(AssertTrue(
        EqualTo(Literal(1), Literal(2))), StringType)))
    }),
    "toipv4ornull" -> (args => ipv4OrNull(args.head)),
    "toipv4orzero" -> (args =>
      Coalesce(Seq(ipv4OrNull(args.head), Literal("0.0.0.0")))),
    // Date32 widens the reference's range, not the Spark carrier.
    "todate32" -> (args => Cast(args.head, DateType)),
    "todatetime32" -> (args => Cast(args.head, TimestampType)),

    "tobool" -> (args => Cast(args.head, BooleanType)),
    "tonullable" -> (args => args.head),
    "tolowcardinality" -> (args => args.head),
    "materialize" -> (args => args.head),
    "accuratecast" -> (args =>
      Cast(args.head, typeArg(args(1)), None, EvalMode.ANSI)),
    "accuratecastornull" -> (args =>
      Cast(args.head, typeArg(args(1)), None, EvalMode.TRY)),
    "accuratecastordefault" -> (args =>
      Coalesce(Seq(Cast(args.head, typeArg(args(1)), None, EvalMode.TRY)) ++
        args.drop(2))),
    // fixed-scale decimal rendering (toDecimalString.cpp); scale literal
    "todecimalstring" -> (args => args(1) match {
      case Literal(i: Int, _) =>
        Cast(Cast(args.head, DecimalType(38, i)), StringType)
      case _ => throw new IllegalArgumentException(
        "toDecimalString expects a literal scale")
    }),
    "tobfloat16" -> (args => sweep9(FloatType, "toBFloat16",
      Seq(asDouble(args.head)), Seq(DoubleType))),
    "tobfloat16ornull" -> (args => TryEval(sweep9(FloatType, "toBFloat16",
      Seq(asDouble(args.head)), Seq(DoubleType)))),
    "tobfloat16orzero" -> (args => Coalesce(Seq(
      TryEval(sweep9(FloatType, "toBFloat16",
        Seq(asDouble(args.head)), Seq(DoubleType))),
      Literal(0.0f)))),
    "todecimal32ordefault" -> (args =>
      orDefaultOf(decimalLane(9, EvalMode.TRY), args)),
    "todecimal64ordefault" -> (args =>
      orDefaultOf(decimalLane(18, EvalMode.TRY), args)),
    "todecimal128ordefault" -> (args =>
      orDefaultOf(decimalLane(38, EvalMode.TRY), args)),
    "todecimal256ordefault" -> (args =>
      orDefaultOf(decimalLane(38, EvalMode.TRY), args)),
    "touuidordefault" -> (args => orDefaultOf(a => uuidOrNull(a.head), args)),
    "toipv4ordefault" -> (args => orDefaultOf(a => ipv4OrNull(a.head), args)),
    "touuid" -> (args => uuidOrNull(args.head)),
    "touuidornull" -> (args => uuidOrNull(args.head)),
    "touuidorzero" -> (args =>
      Coalesce(Seq(uuidOrNull(args.head), Literal(zeroUuid)))),
    "uuidnumtostring" -> (args => CodecExpressions.uuidNumToString(args.head)),
    "uuidstringtonum" -> (args => CodecExpressions.uuidStringToNum(args.head)),
    "uuidtonum" -> (args => CodecExpressions.uuidStringToNum(args.head)),
    // -- toIPv6 conversion family (FunctionsConversion.cpp IPv6 lanes;
    // DNS-free guava parse, RFC 5952 canonical carrier, IPv4 text maps
    // to ::ffff:a.b.c.d)
    "toipv6" -> (args => StaticInvoke(ipv6Cls, StringType, "toIpv6",
      Seq(args.head), Seq(StringType))),
    "toipv6ornull" -> (args => StaticInvoke(ipv6Cls, StringType,
      "toIpv6OrNull", Seq(args.head), Seq(StringType))),
    "toipv6orzero" -> (args => StaticInvoke(ipv6Cls, StringType,
      "toIpv6OrZero", Seq(args.head), Seq(StringType))),
    "toipv6ordefault" -> (args => StaticInvoke(ipv6Cls, StringType,
      "toIpv6OrDefault", Seq(args(0), args(1)),
      Seq(StringType, StringType))),
    "reinterpretasfixedstring" -> (args =>
      ReinterpretToString(args.head, cutTrailingZeros = false)),
    "reinterpret" -> (args => args(1) match {
      case Literal(t, StringType) if t != null =>
        val tn = t.toString.toLowerCase
        val lane = reinterpretLanes.collectFirst { case (`tn`, f) => f }
          .getOrElse(throw new IllegalArgumentException(
            s"reinterpret: unsupported target type '$tn'"))
        lane(args.head)
      case _ => throw new IllegalArgumentException(
        "reinterpret: the target type must be a string literal")
    }),
    // -- reinterpretAs 128/256-bit lanes (reinterpretAs.cpp): LE byte
    // image onto the wide-int decimal-string carrier
    "reinterpretasuint128" -> (args => reinterpretWide(args, 16,
      signed = false)),
    "reinterpretasint128" -> (args => reinterpretWide(args, 16,
      signed = true)),
    "reinterpretasuint256" -> (args => reinterpretWide(args, 32,
      signed = false)),
    "reinterpretasint256" -> (args => reinterpretWide(args, 32,
      signed = true)),
    "reinterpretasuuid" -> (args => sweep8(StringType, "reinterpretAsUuid",
      Seq(Cast(args.head, BinaryType)), Seq(BinaryType)))) ++
    reinterpretLanes.map { case (t, f) =>
      s"reinterpretas$t" -> ((args: Seq[Expression]) => f(args.head))
    }
}
