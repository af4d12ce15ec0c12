package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

import ChBuild._

/** Date and time functions (src/Functions/DateTimeTransforms.h,
  * toStartOfInterval.cpp, changeDate.cpp, dateDiff.cpp, dateName.cpp,
  * formatDateTime.cpp, parseDateTime.cpp, parseDateTimeBestEffort.cpp,
  * toCustomWeek.cpp, snowflake.cpp, FunctionsTimeWindow.cpp, the
  * serverConstants.cpp timezone names): part extraction, truncation,
  * unit arithmetic, relative numbering, formatting and parsing, the
  * snowflake and ULID timestamp codecs, and the TUMBLE/HOP window
  * scalars.
  *
  * Timestamps are tz-agnostic epochs on a session pinned to UTC — the
  * reference's DateTime model; DateTime64 rides the microsecond
  * TimestampType carrier (sub-microsecond precision is truncated,
  * documented).
  */
object ChDateTime {

  // ---- MySQL-style % format translation (formatDateTime.cpp) ----------

  private val mysqlSpec: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M", 'd' -> "dd",
    'e' -> "d", 'H' -> "HH", 'k' -> "H", 'I' -> "hh", 'l' -> "h",
    'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a",
    'M' -> "MMMM", 'b' -> "MMM", 'a' -> "EEE", 'W' -> "EEEE",
    'j' -> "DDD", 'F' -> "yyyy-MM-dd", 'D' -> "MM/dd/yy",
    'T' -> "HH:mm:ss", 'R' -> "HH:mm", 'Q' -> "QQ", 'g' -> "yy",
    'G' -> "yyyy", 'n' -> "\n", 't' -> "\t", '%' -> "%")

  /** Translate a literal MySQL-style format to a java.time pattern,
    * single-quoting literal text so pattern letters can't leak. */
  def mysqlToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val text = lit.toString
      if (text.exists(c => Character.isLetter(c) || c == '\''))
        out.append("'").append(text.replace("'", "''")).append("'")
      else out.append(text)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val spec = fmt.charAt(i + 1)
        mysqlSpec.get(spec) match {
          case Some("%") => lit.append('%'); i += 2
          case Some(p) => flush(); out.append(p); i += 2
          case None => lit.append(c); i += 1
        }
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  private def parseWith(str: Expression, javaFmt: Expression,
      strict: Boolean): Expression =
    SecondsToTimestamp(new UnixTimestamp(str, javaFmt, None, strict))

  /** parseDateTime(s, 'fmt') with the MySQL-style format translated. */
  private def parseMysql(args: Seq[Expression], strict: Boolean): Expression =
    parseWith(args(0), Literal(mysqlToJava(fmtArg(args(1)))), strict)

  /** The OrZero lanes' fallback: the epoch. */
  private def orEpoch(e: Expression): Expression =
    Coalesce(Seq(e, Cast(Literal("1970-01-01 00:00:00"), TimestampType)))

  /** Coalesce of common layouts (parseDateTimeBestEffort.cpp spirit). */
  private def bestEffort(s: Expression): Expression = {
    val fmts = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
      "yyyy/MM/dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss", "dd.MM.yyyy HH:mm:ss",
      "yyyyMMddHHmmss", "yyyy-MM-dd", "yyyy/MM/dd", "dd/MM/yyyy",
      "dd.MM.yyyy", "yyyyMMdd")
    Coalesce(
      Cast(s, TimestampType, None, EvalMode.TRY) +:
        fmts.map(f => parseWith(s, Literal(f), strict = false)))
  }

  /** dateSub('unit', n, ts) — reference dateAdd.cpp's *Sub twins, in the
    * string-literal-unit form (the bare-identifier form is a parser
    * privilege of Spark's builtin dateadd/timestampadd, which cover the
    * Add twins with identical semantics — so those are NOT registered). */
  private def dateArith(args: Seq[Expression], sign: Int): Expression = {
    val unit = litString(args(0), "dateSub/timestampSub").toUpperCase
    val n = if (sign >= 0) asLong(args(1)) else UnaryMinus(asLong(args(1)))
    TimestampAdd(unit, n, Cast(args(2), TimestampType))
  }

  // ---- week numbering (toCustomWeek.cpp, CustomWeekTransforms.h) -------

  private def dateLit(s: String): Expression = Cast(Literal(s), DateType)

  /** Monday of the ISO week-1 of calendar year `y` (the week containing
    * Jan 4). */
  private def isoWeek1Monday(y: Expression): Expression = {
    val jan4 = MakeDate(y, Literal(1), Literal(4))
    DateSub(jan4, WeekDay(jan4))
  }

  /** Day-of-year of the first Sunday of the calendar year of date `d`
    * (mode-0 weeks: week 1 starts at the first Sunday; earlier days are
    * week 0 — MySQL WEEK() semantics the reference mirrors in
    * CustomWeekTransforms.h). */
  private def firstSundayDoy(d: Expression): Expression = {
    val jan1 = MakeDate(Year(d), Literal(1), Literal(1))
    val dow0 = Subtract(DayOfWeek(jan1), Literal(1)) // 0 = Sunday
    Add(Literal(1), Pmod(Subtract(Literal(7), dow0), Literal(7)))
  }

  /** Mode-0 week number of `d` within its own calendar year (0..53). */
  private def week0(d: Expression): Expression = {
    val fs = firstSundayDoy(d)
    If(LessThan(DayOfYear(d), fs), Literal(0),
      Add(Cast(IntegralDivide(Subtract(DayOfYear(d), fs), Literal(7)),
        IntegerType), Literal(1)))
  }

  /** Mode-1 week: Monday-first weeks counted from the ISO week-1 Monday of
    * d's calendar year; 0 for days before it (belonging to prev ISO year). */
  private def week1(d: Expression): Expression = {
    val monday = DateSub(d, WeekDay(d))
    val w = Add(Cast(IntegralDivide(
      DateDiff(monday, isoWeek1Monday(Year(d))), Literal(7)), IntegerType),
      Literal(1))
    If(LessThan(w, Literal(1)), Literal(0), w)
  }

  private def toWeek(d0: Expression, mode: Expression): Expression = {
    val d = Cast(d0, DateType)
    CaseWhen(Seq(
      (EqualTo(mode, Literal(0)), week0(d)),
      (EqualTo(mode, Literal(1)), week1(d)),
      (EqualTo(mode, Literal(3)), asInt(WeekOfYear(d)))),
      Literal.create(null, IntegerType))
  }

  /** Mode-0 yearweek: the week belongs to the year of its Sunday, so early
    * January days roll back to the previous year's week 52/53 (MySQL
    * YEARWEEK). A Sunday's own doy is always >= firstSundayDoy, so the
    * week component here is 1-based with no zero case. */
  private def yearWeek0(d: Expression): Expression = {
    val sunday = DateSub(d, Subtract(DayOfWeek(d), Literal(1)))
    val w = Add(Cast(IntegralDivide(
      Subtract(DayOfYear(sunday), firstSundayDoy(sunday)), Literal(7)),
      IntegerType), Literal(1))
    Add(Multiply(Year(sunday), Literal(100)), w)
  }

  private def yearWeek3(d: Expression): Expression = {
    // ISO year = year of the Thursday of d's week.
    val thu = DateAdd(d, Subtract(Literal(3), WeekDay(d)))
    Add(Multiply(Year(thu), Literal(100)), asInt(WeekOfYear(d)))
  }

  private def toYearWeek(d0: Expression, mode: Expression): Expression = {
    val d = Cast(d0, DateType)
    CaseWhen(Seq(
      (EqualTo(mode, Literal(0)), yearWeek0(d)),
      (EqualTo(mode, Literal(3)), yearWeek3(d))),
      Literal.create(null, IntegerType))
  }

  /** toYearWeek(d[, mode]); mode defaults to 0. */
  private def yearWeekOf(args: Seq[Expression]): Expression =
    toYearWeek(args.head, if (args.length > 1) asInt(args(1)) else Literal(0))

  private val mjdEpoch = "1858-11-17"

  // year 0 is a 366-day proleptic leap year (fromDaysSinceYearZero.cpp)
  private def fromDaysSinceYearZero(args: Seq[Expression]): Expression =
    DateAdd(Cast(Literal("0001-01-01"), DateType),
      Subtract(asInt(args.head), Literal(366)))

  private def toDaysSinceYearZero(args: Seq[Expression]): Expression =
    Add(DateDiff(Cast(args.head, DateType),
      Cast(Literal("0001-01-01"), DateType)), Literal(366))

  // ---- snowflake (dateTimeToSnowflakeID.cpp: epoch defaults to 0) -----

  private def snowflakeIdFromMs(ms: Expression, epoch: Expression): Expression =
    ShiftLeft(Subtract(ms, asLong(epoch)), Literal(22))

  private def msFromSnowflakeId(id: Expression, epoch: Expression): Expression =
    Add(ShiftRightUnsigned(asLong(id), Literal(22)), asLong(epoch))

  private def epochArg(args: Seq[Expression], i: Int): Expression =
    if (args.length > i) args(i) else Literal(0L)

  private val twitterEpochMs = 1288834974657L

  // Crockford base32 digit alphabet → base-32hex digit alphabet (conv's
  // digit set). Values 0..17 share spellings; 18+ shift past the skipped
  // I, L, O, U letters.
  private val CrockfordDigits = "JKMNPQRSTVWXYZ"
  private val Base32HexDigits = "IJKLMNOPQRSTUV"

  // ---- truncation / intervals (toStartOfInterval.cpp, changeDate.cpp) --

  /** Saturating day-of-month change (changeDate.cpp saturates). */
  private def changeDay(d: Expression, newDay: Expression): Expression = {
    val clamped = Greatest(Seq(Literal(1),
      Least(Seq(asInt(newDay), DayOfMonth(LastDay(d))))))
    TimestampAdd("DAY", asLong(Subtract(clamped, DayOfMonth(d))), d)
  }

  private def floorSeconds(ts: Expression, step: Long): Expression =
    SecondsToTimestamp(Multiply(
      IntegralDivide(asLong(ts), Literal(step)), Literal(step)))

  /** toStartOfInterval: day-time intervals floor the epoch; year-month
    * intervals floor months-since-epoch and return a Date (like the
    * reference's month/quarter/year granularities). */
  private def toStartOfInterval(ts: Expression, iv: Expression): Expression = iv match {
    case Literal(micros: Long, _: DayTimeIntervalType) =>
      floorSeconds(ts, math.max(1L, micros / 1000000L))
    case Literal(months: Int, _: YearMonthIntervalType) =>
      val m = Add(Multiply(Subtract(Year(ts), Literal(1970)), Literal(12)),
        Subtract(Month(ts), Literal(1)))
      AddMonths(Cast(Literal("1970-01-01"), DateType),
        Multiply(IntegralDivide(m, Literal(months.toLong)),
          Literal(months.toLong)))
    case _ => throw new IllegalArgumentException(
      "toStartOfInterval expects a literal INTERVAL")
  }

  private def yyyymmddhhmmss(e: Expression): Expression =
    SecondsToTimestamp(UnixTimestamp(Cast(e, StringType),
      Literal("yyyyMMddHHmmss")))

  /** toInterval<Unit>(n) constructors (day-time / year-month literals);
    * toInterval(n, 'unit') dispatches over the same table. */
  private val intervalLanes: Seq[(String, Expression => Expression)] = Seq(
    "day" -> (n => MakeDTInterval(asInt(n), Literal(0), Literal(0),
      Cast(Literal(0), DecimalType(18, 6)))),
    "hour" -> (n => MakeDTInterval(Literal(0), asInt(n), Literal(0),
      Cast(Literal(0), DecimalType(18, 6)))),
    "minute" -> (n => MakeDTInterval(Literal(0), Literal(0), asInt(n),
      Cast(Literal(0), DecimalType(18, 6)))),
    "second" -> (n => MakeDTInterval(Literal(0), Literal(0), Literal(0),
      Cast(n, DecimalType(18, 6)))),
    "week" -> (n => MakeDTInterval(Multiply(asInt(n), Literal(7)),
      Literal(0), Literal(0), Cast(Literal(0), DecimalType(18, 6)))),
    "month" -> (n => MakeYMInterval(Literal(0), asInt(n))),
    "quarter" -> (n => MakeYMInterval(Literal(0), Multiply(asInt(n), Literal(3)))),
    "year" -> (n => MakeYMInterval(asInt(n), Literal(0))))

  // ---- time windows (FunctionsTimeWindow.cpp) ---------------------------

  /** Micros of a FOLDABLE fixed-duration interval literal; calendar
    * units (months) reject loudly. */
  private def ivMicros(e: Expression): Long = {
    require(e.foldable, "time-window interval must be a constant")
    e.dataType match {
      case _: DayTimeIntervalType => e.eval().asInstanceOf[Long]
      case CalendarIntervalType =>
        val ci = e.eval()
          .asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
        require(ci.months == 0,
          "time-window scalars support fixed durations only " +
            "(MONTH/QUARTER/YEAR windows are calendar-dependent)")
        ci.days * 86400000000L + ci.microseconds
      case _ =>
        // bare number of seconds (the reference also accepts one)
        e.eval().toString.toLong * 1000000L
    }
  }
  private def winFloor(ts: Expression, m: Long): Expression =
    MicrosToTimestamp(Multiply(
      IntegralDivide(UnixMicros(Cast(ts, TimestampType)), Literal(m)),
      Literal(m)))
  private def winShift(ts: Expression, m: Long): Expression =
    MicrosToTimestamp(Add(UnixMicros(ts), Literal(m)))

  // ---- dateDiff (dateDiff.cpp) ------------------------------------------

  private def unitLit(e: Expression): String = e match {
    case Literal(s, StringType) if s != null => s.toString.toLowerCase
    case _ => throw new IllegalArgumentException(
      "dateDiff: the unit must be a string literal")
  }

  /** Boundary-count difference per the reference (dateDiff.cpp uses
    * toRelative<Unit>Num(b) − toRelative<Unit>Num(a)), so
    * dateDiff('year', '2023-12-31', '2024-01-01') = 1. */
  private def boundaryDiff(unit: String, a0: Expression, b0: Expression)
      : Expression = {
    def ts(e: Expression) = Cast(e, TimestampType)
    def dt(e: Expression) = Cast(e, DateType)
    def epochDiv(div: Long) = Subtract(
      IntegralDivide(UnixSeconds(ts(b0)), Literal(div)),
      IntegralDivide(UnixSeconds(ts(a0)), Literal(div)))
    unit match {
      case "second" | "seconds" | "ss" | "s" =>
        Subtract(UnixSeconds(ts(b0)), UnixSeconds(ts(a0)))
      case "minute" | "minutes" | "mi" | "n" => epochDiv(60L)
      case "hour" | "hours" | "hh" | "h" => epochDiv(3600L)
      case "day" | "days" | "dd" | "d" =>
        Cast(DateDiff(dt(b0), dt(a0)), LongType)
      case "week" | "weeks" | "wk" | "ww" =>
        Cast(IntegralDivide(
          DateDiff(TruncDate(dt(b0), Literal("week")),
            TruncDate(dt(a0), Literal("week"))), Literal(7)), LongType)
      case "month" | "months" | "mm" | "m" =>
        Cast(Subtract(
          Add(Multiply(Year(dt(b0)), Literal(12)), Month(dt(b0))),
          Add(Multiply(Year(dt(a0)), Literal(12)), Month(dt(a0)))), LongType)
      case "quarter" | "quarters" | "qq" | "q" =>
        Cast(Subtract(
          Add(Multiply(Year(dt(b0)), Literal(4)), Quarter(dt(b0))),
          Add(Multiply(Year(dt(a0)), Literal(4)), Quarter(dt(a0)))), LongType)
      case "year" | "years" | "yyyy" | "yy" =>
        Cast(Subtract(Year(dt(b0)), Year(dt(a0))), LongType)
      case other => throw new IllegalArgumentException(
        s"dateDiff: unsupported unit '$other'")
    }
  }

  /** The reference's quoted-unit form reaches this builder as
    * chDateDiff — Spark's parser owns the `datediff` NAME (it demands
    * an unquoted unit keyword and rejects the string form at parse
    * time), so the dialect rewrite renames CH-spelled calls before
    * parsing. Spark's own 2-arg/unquoted forms pass through untouched. */
  private def dateDiffBuilder(args: Seq[Expression]): Expression =
    if (args.size >= 3) boundaryDiff(unitLit(args.head), args(1), args(2))
    else DateDiff(args(0), args(1)) // Spark's 2-arg days form

  private def tzOffset(args: Seq[Expression]): Expression = {
    val tz = if (args.length > 1) Cast(args(1), StringType)
      else Literal("UTC")
    sweep9(IntegerType, "timeZoneOffset",
      Seq(UnixMicros(Cast(args.head, TimestampType)), tz),
      Seq(LongType, StringType))
  }

  val builders: Seq[(String, Builder)] = Seq[(String, Builder)](
    // date/time (DateTimeTransforms.h)
    "toyear" -> (args => Year(args.head)),
    "tomonth" -> (args => Month(args.head)),
    "todayofmonth" -> (args => DayOfMonth(args.head)),
    "todayofweek" -> (args => Add(WeekDay(args.head), Literal(1))),
    "tohour" -> (args => Hour(args.head)),
    "tominute" -> (args => Minute(args.head)),
    "tosecond" -> (args => Second(args.head)),
    "toquarter" -> (args => Quarter(args.head)),
    "tostartofday" -> (args => TruncTimestamp(Literal("day"), args.head)),
    "tostartofmonth" -> (args => TruncTimestamp(Literal("month"), args.head)),
    "tostartofquarter" -> (args => TruncTimestamp(Literal("quarter"), args.head)),
    "tostartofyear" -> (args => TruncTimestamp(Literal("year"), args.head)),
    "tostartofhour" -> (args => TruncTimestamp(Literal("hour"), args.head)),
    "tostartofminute" -> (args => TruncTimestamp(Literal("minute"), args.head)),
    "toyyyymm" -> (args => Cast(DateFormatClass(args.head, Literal("yyyyMM")), IntegerType)),
    "toyyyymmdd" -> (args => Cast(DateFormatClass(args.head, Literal("yyyyMMdd")), IntegerType)),
    "adddays" -> (args => TimestampAdd("DAY", Cast(args(1), LongType), args(0))),
    "addhours" -> (args => TimestampAdd("HOUR", Cast(args(1), LongType), args(0))),
    "addminutes" -> (args => TimestampAdd("MINUTE", Cast(args(1), LongType), args(0))),
    "addseconds" -> (args => TimestampAdd("SECOND", Cast(args(1), LongType), args(0))),
    "addweeks" -> (args => TimestampAdd("WEEK", Cast(args(1), LongType), args(0))),
    "addmonths" -> (args => TimestampAdd("MONTH", Cast(args(1), LongType), args(0))),
    "addquarters" -> (args => TimestampAdd("QUARTER", Cast(args(1), LongType), args(0))),
    "addyears" -> (args => TimestampAdd("YEAR", Cast(args(1), LongType), args(0))),
    "subtractdays" -> (args =>
      TimestampAdd("DAY", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "subtractmonths" -> (args =>
      TimestampAdd("MONTH", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "subtractyears" -> (args =>
      TimestampAdd("YEAR", UnaryMinus(Cast(args(1), LongType)), args(0))),
    "todayofyear" -> (args => DayOfYear(args.head)),
    "toisoweek" -> (args => WeekOfYear(args.head)),
    "tomonday" -> (args => TruncDate(Cast(args.head, DateType), Literal("week"))),
    "tolastdayofmonth" -> (args => LastDay(args.head)),
    "tounixtimestamp" -> (args => UnixTimestamp(args.head, Literal("yyyy-MM-dd HH:mm:ss"))),
    "fromunixtimestamp" -> (args => SecondsToTimestamp(args.head)),

    // changeYear/changeMonth saturate via add_months semantics; changeDay
    // clamps explicitly; hour/minute/second shift by the delta.
    "changeyear" -> (args =>
      TimestampAdd("YEAR", asLong(Subtract(asInt(args(1)), Year(args(0)))), args(0))),
    "changemonth" -> (args =>
      TimestampAdd("MONTH", asLong(Subtract(asInt(args(1)), Month(args(0)))), args(0))),
    "changeday" -> (args => changeDay(args(0), args(1))),
    "changehour" -> (args =>
      TimestampAdd("HOUR", asLong(Subtract(asInt(args(1)), Hour(args(0)))), args(0))),
    "changeminute" -> (args =>
      TimestampAdd("MINUTE", asLong(Subtract(asInt(args(1)), Minute(args(0)))), args(0))),
    "changesecond" -> (args =>
      TimestampAdd("SECOND", asLong(Subtract(asInt(args(1)), Second(args(0)))), args(0))),
    "datename" -> (args => args(0) match {
      case Literal(s, StringType) => s.toString.toLowerCase match {
        case "year" => Cast(Year(args(1)), StringType)
        case "quarter" => Cast(Quarter(args(1)), StringType)
        case "month" => DateFormatClass(args(1), Literal("MMMM"))
        case "week" => Cast(WeekOfYear(args(1)), StringType)
        case "dayofyear" => Cast(DayOfYear(args(1)), StringType)
        case "day" => Cast(DayOfMonth(args(1)), StringType)
        case "weekday" => DateFormatClass(args(1), Literal("EEEE"))
        case "hour" => Cast(Hour(args(1)), StringType)
        case "minute" => Cast(Minute(args(1)), StringType)
        case "second" => Cast(Second(args(1)), StringType)
        case other => throw new IllegalArgumentException(s"dateName: unit '$other'")
      }
      case _ => throw new IllegalArgumentException("dateName expects a literal unit")
    }),
    "timediff" -> (args => Subtract(asLong(args(1)), asLong(args(0)))),
    "tomodifiedjulianday" -> (args =>
      DateDiff(Cast(args.head, DateType), Cast(Literal("1858-11-17"), DateType))),
    "frommodifiedjulianday" -> (args =>
      DateAdd(Cast(Literal("1858-11-17"), DateType), asInt(args.head))),
    "fromdayssinceyearzero" -> fromDaysSinceYearZero _,
    "todayssinceyearzero" -> toDaysSinceYearZero _,
    "from_days" -> fromDaysSinceYearZero _,
    "to_days" -> toDaysSinceYearZero _,
    // canonical reference spelling is PLURAL toStartOfFiveMinutes
    // (registerFunctions: FunctionToStartOfFiveMinutes) — the singular
    // stays as a lenient alias
    "tostartoffiveminute" -> (args => floorSeconds(args.head, 300L)),
    "tostartoffiveminutes" -> (args => floorSeconds(args.head, 300L)),
    "tostartoftenminutes" -> (args => floorSeconds(args.head, 600L)),
    "tostartoffifteenminutes" -> (args => floorSeconds(args.head, 900L)),
    "tostartofinterval" -> (args => toStartOfInterval(args(0), args(1))),
    "yyyymmddtodate" -> (args =>
      Cast(SecondsToTimestamp(UnixTimestamp(Cast(args.head, StringType),
        Literal("yyyyMMdd"))), DateType)),
    "yyyymmddtodate32" -> (args =>
      Cast(SecondsToTimestamp(UnixTimestamp(Cast(args.head, StringType),
        Literal("yyyyMMdd"))), DateType)),
    "yyyymmddhhmmsstodatetime" -> (args => yyyymmddhhmmss(args.head)),
    // DateTime64 rides the micros timestamp carrier — the precision
    // argument is accepted and absorbed (documented)
    "yyyymmddhhmmsstodatetime64" -> (args => yyyymmddhhmmss(args.head)),
    // Twitter-epoch snowflake codecs (snowflake.cpp)
    "datetimetosnowflake" -> (args =>
      ShiftLeft(Subtract(Multiply(asLong(args.head), Literal(1000L)),
        Literal(twitterEpochMs)), Literal(22))),
    "snowflaketodatetime" -> (args =>
      SecondsToTimestamp(IntegralDivide(
        Add(ShiftRightUnsigned(asLong(args.head), Literal(22)),
          Literal(twitterEpochMs)), Literal(1000L)))),
    // NOTE the *ID codec defaults to epoch 0, not the Twitter epoch
    // (snowflakeIDToDateTime.cpp:77 `UInt64 epoch = 0`, optional arg 2);
    // the legacy snowflakeToDateTime above keeps Twitter.
    "snowflakeidtodatetime" -> (args =>
      SecondsToTimestamp(IntegralDivide(
        Add(ShiftRightUnsigned(asLong(args.head), Literal(22)),
          asLong(if (args.length > 1) args(1) else Literal(0L))),
        Literal(1000L)))),
    "uuidv7todatetime" -> (args =>
      SecondsToTimestamp(IntegralDivide(
        Cast(Conv(Substring(RegExpReplace(args.head, Literal("-"), Literal("")),
          Literal(1), Literal(12)), Literal(16), Literal(10)), LongType),
        Literal(1000L)))),
    "today" -> (_ => CurrentDate(None)),
    "yesterday" -> (_ => DateAdd(CurrentDate(None), Literal(-1))),
    // week boundaries (reference default mode 0: Sunday-start)
    "tostartofweek" -> (args =>
      DateSub(Cast(args.head, DateType),
        Subtract(DayOfWeek(args.head), Literal(1)))),
    "tolastdayofweek" -> (args =>
      DateAdd(DateSub(Cast(args.head, DateType),
        Subtract(DayOfWeek(args.head), Literal(1))), Literal(6))),
    // ISO year = calendar year of the Thursday in the same ISO week
    // (Spark's formatter rejects the week-year 'YYYY' pattern)
    "toisoyear" -> (args => {
      val isoDow = Add(Pmod(Add(DayOfWeek(args.head), Literal(5)), Literal(7)),
        Literal(1))
      Year(DateAdd(Cast(args.head, DateType), Subtract(Literal(4), isoDow)))
    }),
    "toyyyymmddhhmmss" -> (args =>
      Cast(DateFormatClass(args.head, Literal("yyyyMMddHHmmss")), LongType)),
    // toTime: keep the time of day, move the date to 1970-01-02
    "totime" -> (args =>
      SecondsToTimestamp(Add(Literal(86400L),
        Add(Multiply(Cast(Hour(args.head), LongType), Literal(3600L)),
          Add(Multiply(Cast(Minute(args.head), LongType), Literal(60L)),
            Cast(Second(args.head), LongType)))))),
    "timeslot" -> (args => floorSeconds(args.head, 1800L)),
    // toRelativeXNum family (DateTimeTransforms.h) — monotone bucket ids
    "torelativeyearnum" -> (args => Year(args.head)),
    "torelativequarternum" -> (args =>
      Add(Multiply(Year(args.head), Literal(4)),
        Subtract(Quarter(args.head), Literal(1)))),
    "torelativemonthnum" -> (args =>
      Add(Multiply(Year(args.head), Literal(12)), Month(args.head))),
    "torelativedaynum" -> (args =>
      DateDiff(Cast(args.head, DateType), Cast(Literal("1970-01-01"), DateType))),
    "torelativehournum" -> (args =>
      IntegralDivide(Cast(args.head, LongType), Literal(3600L))),
    "torelativeminutenum" -> (args =>
      IntegralDivide(Cast(args.head, LongType), Literal(60L))),
    "torelativesecondnum" -> (args => Cast(args.head, LongType)),
    // Monday-aligned weeks since epoch (1970-01-01 was a Thursday)
    "torelativeweeknum" -> (args =>
      IntegralDivide(Add(DateDiff(Cast(args.head, DateType),
        Cast(Literal("1970-01-01"), DateType)), Literal(3)), Literal(7L))),
    // add/subtract unit complement of the core registry
    "addmilliseconds" -> (args =>
      TimestampAdd("MILLISECOND", asLong(args(1)), args(0))),
    "addmicroseconds" -> (args =>
      TimestampAdd("MICROSECOND", asLong(args(1)), args(0))),
    "subtracthours" -> (args =>
      TimestampAdd("HOUR", UnaryMinus(asLong(args(1))), args(0))),
    "subtractminutes" -> (args =>
      TimestampAdd("MINUTE", UnaryMinus(asLong(args(1))), args(0))),
    "subtractseconds" -> (args =>
      TimestampAdd("SECOND", UnaryMinus(asLong(args(1))), args(0))),
    "subtractweeks" -> (args =>
      TimestampAdd("WEEK", UnaryMinus(asLong(args(1))), args(0))),
    "subtractquarters" -> (args =>
      TimestampAdd("QUARTER", UnaryMinus(asLong(args(1))), args(0))),
    "subtractmilliseconds" -> (args =>
      TimestampAdd("MILLISECOND", UnaryMinus(asLong(args(1))), args(0))),
    "subtractmicroseconds" -> (args =>
      TimestampAdd("MICROSECOND", UnaryMinus(asLong(args(1))), args(0))),
    "tostartofsecond" -> (args => TruncTimestamp(Literal("second"), args.head)),

    // timeSlots(start, duration[, size]): slot starts covering the span
    "timeslots" -> (args => {
      val size = if (args.length > 2) asLong(args(2)) else Literal(1800L)
      val start = Multiply(IntegralDivide(asLong(args(0)), size), size)
      val i = lv()
      ArrayTransform(
        Sequence(start, Add(asLong(args(0)), asLong(args(1))), Some(size)),
        LambdaFunction(SecondsToTimestamp(i), Seq(i)))
    }),
    // age('unit', start, end) — truncated whole-unit difference
    "age" -> (args => args(0) match {
      case Literal(u, StringType) =>
        TimestampDiff(u.toString.toUpperCase, args(1), args(2))
      case _ => throw new IllegalArgumentException("age expects a literal unit")
    }),
    "tointerval" -> (args => {
      val unit = foldStr(args(1)).toLowerCase.stripSuffix("s")
      val lane = intervalLanes.collectFirst { case (`unit`, f) => f }
      require(lane.isDefined, s"toInterval: unsupported unit '$unit'")
      lane.get(args.head)
    }),
    // ISO week (mode-3 flavor)
    "week" -> (args => WeekOfYear(args.head)),
    "millisecond" -> (args =>
      Cast(DateFormatClass(args.head, Literal("SSS")), IntegerType)),
    "datetrunc" -> (args => TruncTimestamp(args(0), args(1))),
    // timestampdiff NOT registered: Spark's parser owns that name
    // (special unquoted-unit syntax, already CH-compatible in spirit);
    // the quoted-unit reference form rides timestamp_diff below.
    "timestamp_diff" -> (args => args(0) match {
      case Literal(u, StringType) =>
        TimestampDiff(u.toString.toUpperCase, args(1), args(2))
      case _ => throw new IllegalArgumentException(
        "timestamp_diff expects a literal unit")
    }),
    "to_unixtime" -> (args => UnixSeconds(Cast(args.head, TimestampType))),
    "now64" -> (_ => CurrentTimestamp()),
    "fromunixtimestamp64second" -> (args => SecondsToTimestamp(args.head)),
    "fromunixtimestamp64milli" -> (args => MillisToTimestamp(args.head)),
    "fromunixtimestamp64micro" -> (args => MicrosToTimestamp(args.head)),
    "fromunixtimestamp64nano" -> (args =>
      MicrosToTimestamp(IntegralDivide(args.head, Literal(1000L)))),
    "tounixtimestamp64second" -> (args => UnixSeconds(Cast(args.head, TimestampType))),
    "tounixtimestamp64milli" -> (args => UnixMillis(Cast(args.head, TimestampType))),
    "tounixtimestamp64micro" -> (args => UnixMicros(Cast(args.head, TimestampType))),
    "tounixtimestamp64nano" -> (args =>
      Multiply(UnixMicros(Cast(args.head, TimestampType)), Literal(1000L))),

    "formatdatetime" -> (args =>
      DateFormatClass(args(0), Literal(mysqlToJava(fmtArg(args(1)))))),
    "formatdatetimeinjodasyntax" -> (args => DateFormatClass(args(0), args(1))),
    "makedate" -> (args => MakeDate(args(0), args(1), args(2))),
    "makedate32" -> (args => MakeDate(args(0), args(1), args(2))),
    "makedatetime" -> (args =>
      MakeTimestamp(args(0), args(1), args(2), args(3), args(4),
        Cast(args(5), DecimalType(16, 6)))),
    "makedatetime64" -> (args =>
      MakeTimestamp(args(0), args(1), args(2), args(3), args(4),
        Cast(args(5), DecimalType(16, 6)))),

    "tostartofisoyear" -> { args =>
      val d = Cast(args.head, DateType)
      val thu = DateAdd(d, Subtract(Literal(3), WeekDay(d)))
      isoWeek1Monday(Year(thu))
    },
    "tomillisecond" -> (args =>
      asInt(Pmod(IntegralDivide(UnixMicros(Cast(args.head, TimestampType)),
        Literal(1000L)), Literal(1000L)))),
    // monthName returns the full name ('March'); Spark 4's own
    // monthname() abbreviates, so this name overrides the built-in
    // (ChFunctionRegistry.overrideBuiltins)
    "monthname" -> (args =>
      DateFormatClass(Cast(args.head, TimestampType), Literal("MMMM"))),
    "toweek" -> (args =>
      toWeek(args.head, if (args.length > 1) asInt(args(1)) else Literal(0))),
    "toyearweek" -> (args =>
      toYearWeek(args.head, if (args.length > 1) asInt(args(1)) else Literal(0))),
    "tomodifiedjuliandayornull" -> (args =>
      DateDiff(Cast(Cast(args.head, StringType), DateType, None, EvalMode.TRY),
        dateLit(mjdEpoch))),
    "frommodifiedjuliandayornull" -> (args =>
      DateAdd(dateLit(mjdEpoch), Cast(args.head, IntegerType, None, EvalMode.TRY))),
    "fromdayssinceyearzero32" -> (args =>
      DateAdd(dateLit("0001-01-01"), Subtract(asInt(args.head), Literal(366)))),
    "tostartofmillisecond" -> (args => {
      val us = UnixMicros(Cast(args.head, TimestampType))
      MicrosToTimestamp(Subtract(us, Pmod(us, Literal(1000L))))
    }),
    "tostartofmicrosecond" -> (args => Cast(args.head, TimestampType)),

    // snowflake ID codecs (epoch defaults to 0 — dateTimeToSnowflakeID.cpp)
    "datetimetosnowflakeid" -> (args =>
      snowflakeIdFromMs(Multiply(UnixSeconds(Cast(args.head, TimestampType)),
        Literal(1000L)), epochArg(args, 1))),
    "datetime64tosnowflakeid" -> (args =>
      snowflakeIdFromMs(UnixMillis(Cast(args.head, TimestampType)), epochArg(args, 1))),
    "snowflakeidtodatetime64" -> (args =>
      MillisToTimestamp(msFromSnowflakeId(args.head, epochArg(args, 1)))),
    // legacy pair (Twitter epoch — snowflake.cpp:43)
    "datetime64tosnowflake" -> (args =>
      snowflakeIdFromMs(UnixMillis(Cast(args.head, TimestampType)),
        Literal(twitterEpochMs))),
    "snowflaketodatetime64" -> (args =>
      MillisToTimestamp(msFromSnowflakeId(args.head, Literal(twitterEpochMs)))),
    "yearweek" -> yearWeekOf _,

    "lastday" -> (args => LastDay(args.head)),
    "utctimestamp" -> (_ => CurrentTimestamp()),
    "utc_timestamp" -> (_ => CurrentTimestamp()),
    // nanosecond arithmetic on the microsecond carrier: truncating
    // integer division, the engine-wide DateTime64(6) precision cap
    "addnanoseconds" -> (args =>
      TimestampAdd("MICROSECOND",
        IntegralDivide(asLong(args(1)), Literal(1000L)), args(0))),
    "subtractnanoseconds" -> (args =>
      TimestampAdd("MICROSECOND",
        UnaryMinus(IntegralDivide(asLong(args(1)), Literal(1000L))), args(0))),

    // The engine pins the session to UTC (every SparkSession here sets
    // spark.sql.session.timeZone) and timestamps are tz-agnostic epochs,
    // exactly the reference's DateTime model: toTimezone changes display
    // metadata only (toTimezone.cpp), so it is value-identity.
    "totimezone" -> (args => Cast(args.head, TimestampType)),
    "timezone" -> (_ => CurrentTimeZone()),
    "timezoneof" -> (_ => CurrentTimeZone()),
    "servertimezone" -> (_ => CurrentTimeZone()),

    // ---- date arithmetic *Sub twins (dateAdd.cpp family; the Add forms
    //      are Spark builtins with the identical unquoted-unit shape) ----
    "datesub" -> (args => dateArith(args, -1)),
    "timestampsub" -> (args => dateArith(args, -1)),
    // DateTime64(6) carrier: nanosecond truncation is the identity at the
    // engine-wide microsecond precision cap (toStartOfSubsecond family)
    "tostartofnanosecond" -> (args => Cast(args.head, TimestampType)),
    // now() is already block-constant in Spark's execution model
    // (CurrentTimestamp folds once per query) — nowInBlock.cpp's
    // per-block re-evaluation has no observable analog here
    "nowinblock" -> (_ => CurrentTimestamp()),

    // addDate(d, INTERVAL ...) — ResolveBinaryArithmetic turns the Add
    // into the proper date/timestamp + interval node
    "adddate" -> (args => Add(args(0), args(1))),
    "subdate" -> (args => Subtract(args(0), args(1))),
    "fromutctimestamp" -> (args => FromUTCTimestamp(args(0), args(1))),
    "toutctimestamp" -> (args => ToUTCTimestamp(args(0), args(1))),

    "ulidstringtodatetime" -> (args => {
      val ts10 = Upper(Substring(args.head, Literal(1), Literal(10)))
      val hex32 = StringTranslate(ts10,
        Literal(CrockfordDigits), Literal(Base32HexDigits))
      MillisToTimestamp(Cast(Conv(hex32, Literal(32), Literal(10)),
        LongType))
    }),
    "chdatediff" -> (dateDiffBuilder _),
    "fromunixtimestampinjodasyntax" -> (args =>
      DateFormatClass(SecondsToTimestamp(Cast(args.head, LongType)),
        args(1))),
    "tomonthnumsinceepoch" -> (args => {
      val d = Cast(args.head, DateType)
      Add(Multiply(Subtract(Year(d), Literal(1970)), Literal(12)),
        Subtract(Month(d), Literal(1)))
    }),
    "toyearnumsinceepoch" -> (args =>
      Subtract(Year(Cast(args.head, DateType)), Literal(1970))),

    "parsetimedelta" -> (args => sweep7(DoubleType, "parseTimeDelta",
      Seq(Cast(args.head, StringType)), Seq(StringType))),

    // ---- time-window scalars (FunctionsTimeWindow.cpp TUMBLE/HOP
    // family): fixed-duration windows as micros arithmetic —
    //   tumbleStart = floor(ts, iv), tumbleEnd = start + iv,
    //   hopEnd = floor(ts, hop) + hop (the latest hop-aligned end > ts,
    //   the reference's step-back loop closed-form), hopStart =
    //   hopEnd − window, windowId = the window end in epoch seconds
    //   (gcd-aligned for the hop form, :576). Calendar units
    //   (MONTH/QUARTER/YEAR) are rejected loudly — documented.
    "tumble" -> (args => CreateStruct(Seq(
      winFloor(args(0), ivMicros(args(1))),
      winShift(winFloor(args(0), ivMicros(args(1))), ivMicros(args(1)))))),
    "tumblestart" -> (args => winFloor(args(0), ivMicros(args(1)))),
    "tumbleend" -> (args =>
      winShift(winFloor(args(0), ivMicros(args(1))), ivMicros(args(1)))),
    "hop" -> (args => {
      val (h, w) = (ivMicros(args(1)), ivMicros(args(2)))
      val end = winShift(winFloor(args(0), h), h)
      CreateStruct(Seq(winShift(end, -w), end))
    }),
    "hopstart" -> (args => {
      val (h, w) = (ivMicros(args(1)), ivMicros(args(2)))
      winShift(winShift(winFloor(args(0), h), h), -w)
    }),
    "hopend" -> (args =>
      winShift(winFloor(args(0), ivMicros(args(1))), ivMicros(args(1)))),
    "windowid" -> (args => {
      val step =
        if (args.size >= 3 && args(2).dataType != StringType) {
          val h = ivMicros(args(1)); val w = ivMicros(args(2))
          java.math.BigInteger.valueOf(h)
            .gcd(java.math.BigInteger.valueOf(w)).longValueExact()
        } else ivMicros(args(1))
      Cast(UnixSeconds(winShift(winFloor(args(0), step), step)), LongType)
    }),

    "toweekyear" -> (args => sweep9(IntegerType, "toWeekYear",
      Seq(Cast(args.head, DateType)), Seq(DateType))),
    "toweekofweekyear" -> (args => sweep9(IntegerType, "toWeekOfWeekYear",
      Seq(Cast(args.head, DateType)), Seq(DateType))),
    "timezoneoffset" -> (args => tzOffset(args)),

    // toDateTimeComponents (DateTimeTransforms.h components lane)
    "todatetimecomponents" -> (args => {
      val ts = Cast(args.head, TimestampType)
      CreateNamedStruct(Seq(
        Literal("year"), Year(ts), Literal("month"), Month(ts),
        Literal("day"), DayOfMonth(ts), Literal("hour"), Hour(ts),
        Literal("minute"), Minute(ts), Literal("second"), Second(ts)))
    }),

    // tuple-of-intervals arithmetic (FunctionBinaryArithmetic.h lane):
    // schema-driven — the struct's interval field types resolve at
    // analysis time
    "addtupleofintervals" -> (args =>
      graft.functions.TupleReshape.ShiftTupleOfIntervals(
        args(0), args(1), 1)),
    "subtracttupleofintervals" -> (args =>
      graft.functions.TupleReshape.ShiftTupleOfIntervals(
        args(0), args(1), -1)),
    // timestampDiff / timestamp_diff are reference aliases of dateDiff —
    // Spark's parser OWNS those names (unquoted-unit grammar), so the
    // quoted-unit CH spelling renames to chDateDiff in the pre-parse
    // rewrite, exactly like dateDiff (ClickHouseSql.rewrite)
    // date_bin / time_bucket are reference aliases of toStartOfInterval
    "date_bin" -> (args =>
      toStartOfInterval(args(0), args(1))),
    "time_bucket" -> (args =>
      toStartOfInterval(args(0), args(1))),

    // ---- parseDateTime family (parseDateTime.cpp, parseDateTimeBestEffort.cpp) ----
    "parsedatetime" -> (args => parseMysql(args, strict = true)),
    "parsedatetimeornull" -> (args => parseMysql(args, strict = false)),
    "parsedatetimeorzero" -> (args => orEpoch(parseMysql(args, strict = false))),
    "str_to_date" -> (args => parseMysql(args, strict = false)),
    "parsedatetimeinjodasyntax" -> (args =>
      parseWith(args(0), args(1), strict = true)),
    "parsedatetimeinjodasyntaxornull" -> (args =>
      parseWith(args(0), args(1), strict = false)),
    "parsedatetimeinjodasyntaxorzero" -> (args =>
      orEpoch(parseWith(args(0), args(1), strict = false))),
    // DateTime64 spellings: the scale argument (between the value and the
    // format) is dropped at the micros carrier
    "parsedatetime64" -> (args =>
      if (args.size >= 3) parseMysql(Seq(args.head, args.last), strict = true)
      else Cast(args.head, TimestampType)),
    "parsedatetime64ornull" -> (args =>
      if (args.size >= 3) parseMysql(Seq(args.head, args.last), strict = false)
      else Cast(args.head, TimestampType, None, EvalMode.TRY)),
    "parsedatetime64orzero" -> (args =>
      if (args.size >= 3)
        orEpoch(parseMysql(Seq(args.head, args.last), strict = false))
      else Coalesce(Seq(Cast(args.head, TimestampType, None, EvalMode.TRY),
        Literal.create(0L, TimestampType)))),
    "parsedatetime64injodasyntax" -> (args =>
      parseWith(args.head, args.last, strict = true)),
    "parsedatetime64injodasyntaxornull" -> (args =>
      parseWith(args.head, args.last, strict = false)),
    "parsedatetime64injodasyntaxorzero" -> (args =>
      orEpoch(parseWith(args.head, args.last, strict = false))),
    // best-effort parser: one parser serves every width, and the US
    // spellings share it too (slash dates already parse month-first)
    "parsedatetimebesteffort" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortornull" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortorzero" -> (args => orEpoch(bestEffort(args.head))),
    "parsedatetime32besteffort" -> (args => bestEffort(args.head)),
    "parsedatetime32besteffortornull" -> (args => bestEffort(args.head)),
    "parsedatetime32besteffortorzero" -> (args =>
      orEpoch(bestEffort(args.head))),
    "parsedatetime64besteffort" -> (args => bestEffort(args.head)),
    "parsedatetime64besteffortornull" -> (args => bestEffort(args.head)),
    "parsedatetime64besteffortorzero" -> (args =>
      orEpoch(bestEffort(args.head))),
    "parsedatetimebesteffortus" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortusornull" -> (args => bestEffort(args.head)),
    "parsedatetimebesteffortusorzero" -> (args =>
      orEpoch(bestEffort(args.head))),
    "parsedatetime64besteffortus" -> (args => bestEffort(args.head)),
    "parsedatetime64besteffortusornull" -> (args => bestEffort(args.head)),
    "parsedatetime64besteffortusorzero" -> (args =>
      orEpoch(bestEffort(args.head)))) ++
    intervalLanes.map { case (unit, f) =>
      s"tointerval$unit" -> ((args: Seq[Expression]) => f(args.head))
    }
}
