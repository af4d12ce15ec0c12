package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.functions.{CodecFunctions, GeoFunctions}
import graft.sql.ClickHouseSql
import org.apache.spark.sql.functions._

/** Scalar-function surface (reference: 742 files under src/Functions —
  * SURVEY §2.8). Spark built-ins cover the curated compatibility list;
  * these queries pin the semantics per category. All expressions are
  * codegen'd Catalyst built-ins — no UDFs in any hot path.
  */
object ScalarFunctions extends QueryPack {

  // ---- DuckDB-side geohash arithmetic (mirrors GeoFunctions exactly) ----
  private val ghAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  private def ghValueSql(cl: String, ca: String): String =
    (0 until 30).map { pos =>
      val idx = pos / 2
      val src = if (pos % 2 == 0) cl else ca
      s"(($src >> ${14 - idx}) & 1) * ${1L << (29 - pos)}"
    }.mkString(" + ")
  private def ghCharsSql(v: String): String =
    (0 until 6).map { c =>
      s"SUBSTRING('$ghAlphabet', CAST((($v >> ${(5 - c) * 5}) & 31) AS INT) + 1, 1)"
    }.mkString(" || ")

  // pentagon for pointInPolygon (both engines share the arithmetic)
  private val poly = Seq((2.0, 1.0), (8.0, 2.0), (9.0, 7.0), (5.0, 9.0), (1.0, 6.0))
  private def pipSql(x: String, y: String): String = {
    val terms = poly.indices.map { i =>
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % poly.length)
      s"""CASE WHEN ($y1 > $y) <> ($y2 > $y)
           THEN (CASE WHEN $x < (${x2 - x1}) * ($y - $y1) / (${y2 - y1}) + $x1
                 THEN 1 ELSE 0 END) ELSE 0 END"""
    }
    s"((${terms.mkString(" + ")}) % 2) = 1"
  }

  /** seriesDecomposeSTL (seriesDecomposeSTL.cpp; STL from the published
    * Cleveland et al. 1990 procedure): the oracle pins the
    * decomposition CONTRACT on a synthetic trend+seasonality series —
    * exact additive reconstruction, baseline = seasonal + trend, the
    * seasonal lane carrying the injected period-12 component, and a
    * small residual. (Numeric parity with the reference's stl-cpp
    * smoothing windows is not claimed — documented.) */
  private val seriesStl = Q("q_fn_series_stl", (s, dir) => {
    graft.Tables.register(s, dir)
    val n = 96
    val row = ClickHouseSql.sql(s, s"""
      SELECT seriesDecomposeSTL(
        arrayMap(i -> 10.0 + 0.05 * i + 5.0 * sin(2 * pi() * i / 12),
          range($n)), 12) AS dec""").collect().head
    val dec = row.getAs[scala.collection.Seq[scala.collection.Seq[Float]]](0)
      .toSeq.map(_.toSeq.map(_.toDouble))
    val y = (0 until n).map(i =>
      10.0 + 0.05 * i + 5.0 * math.sin(2 * math.Pi * i / 12))
    val Seq(se, tr, re, ba) = dec
    val recon = (0 until n).map(i =>
      math.abs(y(i) - (se(i) + tr(i) + re(i)))).max
    val baseErr = (0 until n).map(i =>
      math.abs(ba(i) - (se(i) + tr(i)))).max
    val trueSeason = (0 until n).map(i => 5.0 * math.sin(2 * math.Pi * i / 12))
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val ma = a.sum / a.size; val mb = b.sum / b.size
      val cov = a.zip(b).map { case (x, z) => (x - ma) * (z - mb) }.sum
      val va = a.map(x => (x - ma) * (x - ma)).sum
      val vb = b.map(x => (x - mb) * (x - mb)).sum
      cov / math.sqrt(va * vb)
    }
    val seasonCorr = corr(se, trueSeason)
    val resSd = {
      val m = re.sum / re.size
      math.sqrt(re.map(x => (x - m) * (x - m)).sum / re.size)
    }
    import s.implicits._
    Seq((dec.size.toLong, se.size.toLong, recon < 1e-3, baseErr < 1e-3,
        seasonCorr > 0.99, resSd < 0.5))
      .toDF("lanes", "len", "recon_exact", "baseline_exact",
        "seasonal_captured", "residual_small")
  }, Some("""
    SELECT CAST(4 AS BIGINT) AS lanes, CAST(96 AS BIGINT) AS len,
      TRUE AS recon_exact, TRUE AS baseline_exact,
      TRUE AS seasonal_captured, TRUE AS residual_small"""))

  override def queries: Seq[Q] = Seq(

    // ==== Type conversions (sql/ChConversions) ====

    // Conversion family (FunctionsConversion: toX, toXOrNull via TRY_CAST).
    Q.shared("q_fn_cast", """
      SELECT
        CAST('42' AS BIGINT) AS i,
        CAST('3.5' AS DOUBLE) AS f,
        TRY_CAST('nope' AS BIGINT) AS bad_int,
        COALESCE(TRY_CAST('nope' AS BIGINT), 0) AS or_zero,
        CAST(CAST('2024-02-29' AS DATE) AS STRING) AS d,
        CAST(CAST('2024-02-29 12:30:00' AS TIMESTAMP) AS STRING) AS t,
        CAST(FLOOR(123.999) AS BIGINT) AS floored_int,
        CAST(TRUE AS INT) AS b
      """),

    // IPv6 + UUID codecs (FunctionsCodingIP.cpp, FunctionsCodingUUID.cpp)
    // over RFC 5952 vectors; oracle = the published canonical forms.
    Q.df("q_fn_ipv6_uuid", """
      SELECT * FROM (VALUES
        (1, '2001:db8::ff00:42:8329', '550e8400-e29b-41d4-a716-446655440000'),
        (2, '::1',                    '00000000-0000-0000-0000-000000000001'),
        (3, '::',                     'ffffffff-ffff-ffff-ffff-ffffffffffff'),
        (4, 'fe80::1',                '123e4567-e89b-12d3-a456-426614174000'),
        (5, '2001:db8:1:2:3:4:5:6',   'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'),
        (6, '2001:db8:0:1:1:1:1:1',   '00112233-4455-6677-8899-aabbccddeeff'),
        (7, '2001::1:0:0:1:1',        'deadbeef-dead-beef-dead-beefdeadbeef')
      ) t(id, ipv6, uuid_rt)
      ORDER BY id""") { (s, dir) =>
      import s.implicits._
      Seq(
        (1, "20010db8000000000000ff0000428329", "550e8400-e29b-41d4-a716-446655440000"),
        (2, "00000000000000000000000000000001", "00000000-0000-0000-0000-000000000001"),
        (3, "00000000000000000000000000000000", "ffffffff-ffff-ffff-ffff-ffffffffffff"),
        (4, "fe800000000000000000000000000001", "123e4567-e89b-12d3-a456-426614174000"),
        (5, "20010db8000100020003000400050006", "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"),
        (6, "20010db8000000010001000100010001", "00112233-4455-6677-8899-aabbccddeeff"),
        (7, "20010000000000010000000000010001", "deadbeef-dead-beef-dead-beefdeadbeef"))
        .toDF("id", "hx", "u")
        .select(col("id"),
          CodecFunctions.ipv6NumToString(unhex(upper(col("hx")))).as("ipv6"),
          CodecFunctions.uuidNumToString(CodecFunctions.uuidStringToNum(col("u")))
            .as("uuid_rt"))
        .orderBy("id")
    },

    // Conversion tail (OrNull/OrZero/OrDefault matrix, accurateCast,
    // toBool/toNullable/materialize, toDecimalString).
    Q.ch("q_fn_conv_tail", """
      SELECT
        toBool(1) AS b,
        CAST(toInt8OrNull('200') AS INT) AS i8n,
        CAST(toInt16OrZero('abc') AS INT) AS i16z,
        CAST(toFloat32OrNull('1.5') AS DOUBLE) AS f32,
        toDateOrNull('2024-01-02') AS d,
        toDateTimeOrNull('bad') AS ts,
        CAST(toUInt8OrNull('300') AS INT) AS u8n,
        CAST(toUInt16OrZero('70000') AS INT) AS u16z,
        CAST(toUInt32OrNull('4000000000') AS BIGINT) AS u32n,
        CAST(accurateCast(300, 'Int32') AS INT) AS ac,
        CAST(accurateCastOrNull(70000, 'Int16') AS INT) AS acn,
        CAST(toInt32OrDefault('zz', 99) AS INT) AS idft,
        toDecimalString(3.14159, 2) AS ds,
        CAST(materialize(7) AS INT) AS mat,
        CAST(toNullable(8) AS INT) AS tn""",
      """
      SELECT true AS b, CAST(NULL AS INT) AS i8n, 0 AS i16z,
        CAST(1.5 AS DOUBLE) AS f32, DATE '2024-01-02' AS d,
        CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS INT) AS u8n,
        0 AS u16z, CAST(4000000000 AS BIGINT) AS u32n, 300 AS ac,
        CAST(NULL AS INT) AS acn, 99 AS idft, '3.14' AS ds,
        7 AS mat, 8 AS tn"""),

    // Overflow-visible conversions (round-3 verdict #10): Int128/Int256 and
    // >64-bit magnitudes are a documented capability cap (SURVEY §1.2 —
    // Spark tops out at DECIMAL(38)/Int64 carriers). This battery pins the
    // CONTRACT at the cap: a value beyond the target range comes back NULL
    // from the OrNull forms and 0 from the OrZero forms — loudly absent,
    // never silently saturated or wrapped (FunctionsConversion.h
    // accurateCastOrNull; DataTypesNumber.cpp Int128/256 ranges). The u64
    // columns are rendered as strings on BOTH engine sides (round-4 verdict
    // #3: the overflow contract is the NULL/0/value pattern, not the
    // DECIMAL(20,0) carrier, whose hash canonicalization differs between
    // the engines' drivers).
    Q.ch("q_fn_cast_overflow", """
      SELECT
        CAST(toInt64OrNull('170141183460469231731687303715884105727') AS BIGINT) AS i64_of_i128max,
        CAST(toInt64OrNull('57896044618658097711785492504343953926634992332820282019728792003956564819967') AS BIGINT) AS i64_of_i256max,
        CAST(toInt64OrNull('9223372036854775807') AS BIGINT) AS i64_max_ok,
        CAST(toInt64OrNull('9223372036854775808') AS BIGINT) AS i64_over,
        CAST(toInt64OrNull('-9223372036854775809') AS BIGINT) AS i64_under,
        toString(toUInt64OrNull('18446744073709551615')) AS u64_max_ok,
        toString(toUInt64OrNull('18446744073709551616')) AS u64_over,
        toString(toUInt64OrNull('-1')) AS u64_neg,
        toString(toUInt64OrZero('18446744073709551616')) AS u64_over_zero,
        CAST(toUInt32OrNull('4294967295') AS BIGINT) AS u32_max_ok,
        CAST(toUInt32OrNull('4294967296') AS BIGINT) AS u32_over,
        CAST(toInt32OrZero('2147483648') AS INT) AS i32_over_zero,
        CAST(toInt8OrNull('128') AS INT) AS i8_over,
        CAST(accurateCastOrNull('340282366920938463463374607431768211456', 'Int64') AS BIGINT) AS ac_i64_of_u128,
        CAST(accurateCastOrNull(9.3e18, 'Int64') AS BIGINT) AS ac_i64_of_big_double""",
      """
      SELECT
        CAST(NULL AS BIGINT) AS i64_of_i128max,
        CAST(NULL AS BIGINT) AS i64_of_i256max,
        CAST(9223372036854775807 AS BIGINT) AS i64_max_ok,
        CAST(NULL AS BIGINT) AS i64_over,
        CAST(NULL AS BIGINT) AS i64_under,
        '18446744073709551615' AS u64_max_ok,
        CAST(NULL AS VARCHAR) AS u64_over,
        CAST(NULL AS VARCHAR) AS u64_neg,
        '0' AS u64_over_zero,
        CAST(4294967295 AS BIGINT) AS u32_max_ok,
        CAST(NULL AS BIGINT) AS u32_over,
        0 AS i32_over_zero,
        CAST(NULL AS INT) AS i8_over,
        CAST(NULL AS BIGINT) AS ac_i64_of_u128,
        CAST(NULL AS BIGINT) AS ac_i64_of_big_double"""),

    // Round-5 registry tail sweep wave 1: OrNull/OrZero conversion matrix
    // completion (FunctionsConversion.h — string-parsing forms: overflow
    // fails, no wrap; toDate/DateTime zero sentinels are the epoch).
    Q.ch("q_fn_conv_tail2", """
      SELECT
        CAST(toInt8OrNull('12') AS INT) AS i8,
        CAST(toInt8OrZero('1000') AS INT) AS i8z,
        CAST(toInt16OrNull('300') AS INT) AS i16,
        CAST(toInt16OrZero('oops') AS INT) AS i16z,
        CAST(toUInt8OrNull('200') AS INT) AS u8,
        CAST(toUInt8OrNull('300') AS INT) AS u8n,
        CAST(toUInt8OrZero('abc') AS INT) AS u8z,
        CAST(toUInt16OrNull('65535') AS INT) AS u16,
        CAST(toUInt16OrZero('70000') AS INT) AS u16z,
        CAST(toUInt32OrNull('4294967295') AS BIGINT) AS u32,
        CAST(toUInt32OrNull('-1') AS BIGINT) AS u32n,
        CAST(toFloat32OrNull('1.5') AS DOUBLE) AS f32,
        CAST(toFloat32OrZero('x') AS DOUBLE) AS f32z,
        CAST(toFloat64OrZero('2.25') AS DOUBLE) AS f64,
        toDateOrNull('2024-02-29') AS d1,
        toDateOrNull('nope') AS dn,
        toDateOrZero('nope') AS dz,
        toDateTimeOrNull('2024-01-02 03:04:05') AS t1,
        toDateTimeOrZero('x') AS tz,
        toDate32('2024-03-01') AS d32,
        toDate32OrZero('x') AS d32z,
        toDateTime32('2024-01-02 03:04:05') AS t32,
        toUUID('61f0c404-5CB3-11E7-907B-A6006AD3DBA0') AS uu,
        toUUIDOrNull('zzz') AS uun,
        toUUIDOrZero('zzz') AS uuz""",
      """
      SELECT 12 AS i8, 0 AS i8z, 300 AS i16, 0 AS i16z,
        200 AS u8, CAST(NULL AS INT) AS u8n, 0 AS u8z,
        65535 AS u16, 0 AS u16z,
        CAST(4294967295 AS BIGINT) AS u32, CAST(NULL AS BIGINT) AS u32n,
        CAST(1.5 AS DOUBLE) AS f32, CAST(0.0 AS DOUBLE) AS f32z,
        CAST(2.25 AS DOUBLE) AS f64,
        DATE '2024-02-29' AS d1, CAST(NULL AS DATE) AS dn,
        DATE '1970-01-01' AS dz,
        TIMESTAMP '2024-01-02 03:04:05' AS t1,
        TIMESTAMP '1970-01-01 00:00:00' AS tz,
        DATE '2024-03-01' AS d32, DATE '1970-01-01' AS d32z,
        TIMESTAMP '2024-01-02 03:04:05' AS t32,
        '61f0c404-5cb3-11e7-907b-a6006ad3dba0' AS uu,
        CAST(NULL AS VARCHAR) AS uun,
        '00000000-0000-0000-0000-000000000000' AS uuz"""),

    // Registry sweep #9 scalar lanes (the FINAL reference-name diff):
    // struct reshaping (tupleToNameValuePairs.cpp / flattenTuple.cpp),
    // errorCodeToName over the transcribed ErrorCodes.cpp table,
    // reference-verified aliases (match.cpp REGEXP_MATCHES,
    // multiIf.cpp caseWithoutExpr, toStartOfInterval.cpp time_bucket/
    // date_bin, parseDateTime.cpp str_to_date), ISO week-year lanes,
    // timezone offsets, bfloat16 rounding, IPv6 CIDR algebra, and the
    // OrDefault conversion tails.
    Q.ch("q_fn_tail9", """
      SELECT
        errorCodeToName(0) AS ec0,
        errorCodeToName(60) AS ec60,
        errorCodeToName(999999) AS ec_unknown,
        tupleToNameValuePairs(named_struct('a', 10, 'b', 20))[0].name AS p1n,
        CAST(tupleToNameValuePairs(named_struct('a', 10, 'b', 20))[1].value
          AS BIGINT) AS p2v,
        to_json(flattenTuple(named_struct('a', 1,
          'n', named_struct('x', 'u')))) AS flat,
        REGEXP_MATCHES('hello', 'l+') AS rm,
        caseWithoutExpr(1 = 2, 'x', 1 = 1, 'y', 'z') AS cwe,
        concatWithSeparatorAssumeInjective('-', 'a', 'b') AS cwsai,
        CAST(timestampDiff('year', toDate('2023-12-31'),
          toDate('2024-01-01')) AS BIGINT) AS tsd,
        CAST(toWeekYear(toDate('2021-01-01')) AS BIGINT) AS wy,
        CAST(toWeekOfWeekYear(toDate('2021-01-01')) AS BIGINT) AS ww,
        CAST(timeZoneOffset(toDateTime('2024-07-01 00:00:00'),
          'Europe/Berlin') AS BIGINT) AS tzo,
        CAST(toBFloat16(1.3) AS DOUBLE) AS bf,
        IPv6CIDRToRange('2001:db8::1', 32).lo AS cidr_lo,
        cutIPv6('2001:db8::1:2', 4, 0) AS cut6,
        tryBase64URLDecode('aGVsbG8') AS b64,
        tryBase64URLDecode('!!!') IS NULL AS b64bad,
        CAST(toDecimal64OrDefault('nope', 9.5, 2) AS DOUBLE) AS d64d,
        toUUIDOrDefault('nope',
          '00000000-0000-0000-0000-000000000000') AS uud,
        filesystemCapacity() >= filesystemAvailable() AS fs""",
      """
      SELECT
        'OK' AS ec0,
        'UNKNOWN_TABLE' AS ec60,
        '' AS ec_unknown,
        'a' AS p1n,
        CAST(20 AS BIGINT) AS p2v,
        '{"a":1,"n.x":"u"}' AS flat,
        TRUE AS rm,
        'y' AS cwe,
        'a-b' AS cwsai,
        CAST(1 AS BIGINT) AS tsd,
        CAST(2020 AS BIGINT) AS wy,
        CAST(53 AS BIGINT) AS ww,
        CAST(7200 AS BIGINT) AS tzo,
        CAST(1.296875 AS DOUBLE) AS bf,
        '2001:db8:0:0:0:0:0:0' AS cidr_lo,
        '2001:db8:0:0:0:0:0:0' AS cut6,
        'hello' AS b64,
        TRUE AS b64bad,
        CAST(9.5 AS DOUBLE) AS d64d,
        '00000000-0000-0000-0000-000000000000' AS uud,
        TRUE AS fs"""),

    // Registry sweep #8: dateDiff BOUNDARY semantics (dateDiff.cpp —
    // year/month/day/hour boundaries, so '2023-12-31'→'2024-01-01' is
    // 1 year), the 2-arg Spark behavior preserved, banker's rounding,
    // boundary-array roundDown, pmodOrNull, byteSize sizing contract
    // (String = len + 9), charset conversion, partitionID, the
    // reinterpretAsUUID docs-example byte layout, and introspection.
    Q.ch("q_fn_tail8", """
      SELECT
        CAST(dateDiff('year', toDate('2023-12-31'), toDate('2024-01-01')) AS BIGINT) AS dy,
        CAST(dateDiff('month', toDate('2024-01-31'), toDate('2024-02-01')) AS BIGINT) AS dm,
        CAST(dateDiff('day', toDateTime('2024-01-01 23:59:59'),
          toDateTime('2024-01-02 00:00:01')) AS BIGINT) AS dd,
        CAST(dateDiff('hour', toDateTime('2024-01-01 01:59:00'),
          toDateTime('2024-01-01 02:01:00')) AS BIGINT) AS dh,
        CAST(dateDiff(toDate('2024-01-10'), toDate('2024-01-01')) AS BIGINT) AS d2,
        CAST(roundBankers(2.5) AS DOUBLE) AS rb1,
        CAST(roundBankers(3.5) AS DOUBLE) AS rb2,
        CAST(roundBankers(2.345, 2) AS DOUBLE) AS rb3,
        CAST(roundDown(5.5, array(1.0, 4.0, 6.0)) AS DOUBLE) AS rd1,
        CAST(roundDown(0.5, array(1.0, 4.0, 6.0)) AS DOUBLE) AS rd2,
        isNotDistinctFrom(CAST(NULL AS INT), CAST(NULL AS INT)) AS ind,
        CAST(pmodOrNull(7, 3) AS DOUBLE) AS pm,
        pmodOrNull(7, 0) IS NULL AS pmz,
        database() AS db,
        arrayStringConcat(currentSchemas(true), ',') AS cs,
        CAST(connection_id() AS BIGINT) AS cid,
        CAST(byteSize(CAST(1 AS INT)) AS BIGINT) AS bs_int,
        CAST(byteSize('abc') AS BIGINT) AS bs_str,
        CAST(byteSize(array(1, 2)) AS BIGINT) AS bs_arr,
        convertCharset(unhex('E9'), 'ISO-8859-1', 'UTF-8') AS cc,
        partitionID(2024, 'x') AS pid,
        hasSubsequenceUTF8('hello world', 'hlo') = 1 AS hs,
        CAST(size(extractAllGroups('a1b2', '([a-z])([0-9])')) AS BIGINT) AS eag,
        reinterpretAsUUID(unhex('0F0E0D0C0B0A09080706050403020100')) AS uuid""",
      """
      SELECT
        CAST(1 AS BIGINT) AS dy,
        CAST(1 AS BIGINT) AS dm,
        CAST(1 AS BIGINT) AS dd,
        CAST(1 AS BIGINT) AS dh,
        CAST(9 AS BIGINT) AS d2,
        CAST(2.0 AS DOUBLE) AS rb1,
        CAST(4.0 AS DOUBLE) AS rb2,
        CAST(2.34 AS DOUBLE) AS rb3,
        CAST(4.0 AS DOUBLE) AS rd1,
        CAST(1.0 AS DOUBLE) AS rd2,
        TRUE AS ind,
        CAST(1.0 AS DOUBLE) AS pm,
        TRUE AS pmz,
        'default' AS db,
        'default' AS cs,
        CAST(0 AS BIGINT) AS cid,
        CAST(4 AS BIGINT) AS bs_int,
        CAST(12 AS BIGINT) AS bs_str,
        CAST(16 AS BIGINT) AS bs_arr,
        'é' AS cc,
        '2024-x' AS pid,
        TRUE AS hs,
        CAST(2 AS BIGINT) AS eag,
        '08090a0b-0c0d-0e0f-0001-020304050607' AS uuid"""),

    // reinterpretAs* (reinterpretAs.cpp): raw little-endian byte-image
    // reinterpretation. 'abcd' = 61 62 63 64 read LE = 0x64636261;
    // numeric inputs contribute their LE bytes (reinterpretAsString cuts
    // trailing NULs — 25185 = 0x6261 -> 'ab'); FFFF as Int16 = -1;
    // 0000803F is IEEE-754 LE 1.0f; Date reads u16 days, DateTime u32
    // epoch seconds.
    Q.ch("q_fn_reinterpret", """
      SELECT
        CAST(reinterpretAsUInt32('abcd') AS BIGINT) AS u32,
        CAST(reinterpretAsUInt8('a') AS BIGINT) AS u8,
        CAST(reinterpretAsUInt16('a') AS BIGINT) AS u16pad,
        CAST(reinterpretAsUInt64('abc') AS BIGINT) AS u64,
        CAST(reinterpretAsInt16(unhex('FFFF')) AS BIGINT) AS i16,
        reinterpretAsString(CAST(25185 AS INT)) AS s,
        CAST(reinterpretAsFloat32(unhex('0000803F')) AS DOUBLE) AS f32,
        CAST(reinterpretAsDate(CAST(18262 AS INT)) AS STRING) AS d,
        CAST(reinterpretAsDateTime(CAST(1700000000 AS BIGINT)) AS STRING) AS dt,
        CAST(reinterpret('abcd', 'UInt32') AS BIGINT) AS generic""",
      """
      SELECT
        CAST(1684234849 AS BIGINT) AS u32,
        CAST(97 AS BIGINT) AS u8,
        CAST(97 AS BIGINT) AS u16pad,
        CAST(6513249 AS BIGINT) AS u64,
        CAST(-1 AS BIGINT) AS i16,
        'ab' AS s,
        CAST(1.0 AS DOUBLE) AS f32,
        '2020-01-01' AS d,
        '2023-11-14 22:13:20' AS dt,
        CAST(1684234849 AS BIGINT) AS generic"""),

    // Round-10 registry sweep #7: REAL SipHash-2-4 (the keyed lane is
    // pinned on the OFFICIAL published test vector — key
    // 0x0706050403020100/0x0f0e0d0c0b0a0908 over bytes 00..0e →
    // 0xa129ca6149be45e5; the unkeyed/128 lanes are consistency pins of
    // the same verified core), halfMD5 (MD5 top-8-bytes big-endian),
    // gccMurmurHash (MurmurHash64A, libstdc++ seed), parseTimeDelta,
    // string byte stats, toFixedString, epoch month/year counters,
    // conversion OrNull/OrZero/OrDefault tails (unsigned lanes
    // range-checked), DateTime64/Decimal lanes, IPv4 lanes, multiSearch
    // spelling tails, parseDateTime64 aliases, and currentUser.
    Q.ch("q_fn_tail7", """
      SELECT
        CAST(sipHash64Keyed(struct(506097522914230528, 1084818905618843912),
          unhex('000102030405060708090A0B0C0D0E')) AS BIGINT) AS sk,
        CAST(sipHash64('abc') AS BIGINT) AS s64,
        upper(hex(sipHash128('abc'))) AS h128,
        upper(hex(sipHash128Reference('abc'))) AS h128r,
        CAST(halfMD5('abc') AS BIGINT) AS hm,
        CAST(gccMurmurHash('abc') AS BIGINT) AS gm,
        CAST(parseTimeDelta('1h 30m') AS DOUBLE) AS ptd,
        round(stringBytesEntropy('aab'), 6) AS sbe,
        CAST(stringBytesUniq('Hello') AS BIGINT) AS sbu,
        upper(hex(toFixedString('ab', 4))) AS tfs,
        CAST(toMonthNumSinceEpoch(toDate('2024-03-05')) AS BIGINT) AS mn,
        CAST(toYearNumSinceEpoch(toDate('2024-03-05')) AS BIGINT) AS yn,
        CAST(toInt16OrNull('300') AS BIGINT) AS i16,
        CAST(toInt8OrZero('300') AS BIGINT) AS i8z,
        CAST(toUInt8OrNull('200') AS BIGINT) AS u8,
        toUInt8OrNull('300') IS NULL AS u8_oor,
        CAST(toUInt16OrDefault('70000', 5) AS BIGINT) AS u16d,
        CAST(toFloat32OrZero('bad') AS DOUBLE) AS f32z,
        CAST(toDateOrZero('nope') AS STRING) AS dz,
        toDateTime64OrNull('bad') IS NULL AS dt64n,
        CAST(toDateTime64('2024-01-02 03:04:05.123456', 6) AS STRING) AS dt64,
        CAST(toDecimal64('3.14159', 2) AS STRING) AS dec2,
        toDecimal32OrNull('bad', 2) IS NULL AS decn,
        CAST(toDecimal32OrZero('bad', 2) AS STRING) AS decz,
        toIPv4('1.2.3.4') AS ip,
        toIPv4OrNull('999.1.1.1') IS NULL AS ipn,
        toIPv4OrZero('x') AS ipz,
        CAST(multiSearchFirstIndexCaseInsensitive('Hello World',
          array('x', 'WORLD')) AS BIGINT) AS msi,
        CAST(multiSearchFirstPositionUTF8('abcdef',
          array('de', 'bc')) AS BIGINT) AS msp,
        multiSearchAnyCaseInsensitiveUTF8('Hello', array('HELL')) AS msa,
        CAST(parseDateTime64BestEffort('2024-01-02 03:04:05') AS STRING)
          AS pd64,
        currentUser() AS cu""",
      """
      SELECT
        CAST(-6833708440360172059 AS BIGINT) AS sk,
        CAST(4596069200710135518 AS BIGINT) AS s64,
        'B6B415A2DA966B6C685A65E54C12A353' AS h128,
        '6C95DEC302962FA8CA5E69C1D5D15478' AS h128r,
        CAST(-8070080442485551184 AS BIGINT) AS hm,
        CAST(3663726644998027833 AS BIGINT) AS gm,
        CAST(5400.0 AS DOUBLE) AS ptd,
        0.918296 AS sbe,
        CAST(4 AS BIGINT) AS sbu,
        '61620000' AS tfs,
        CAST(650 AS BIGINT) AS mn,
        CAST(54 AS BIGINT) AS yn,
        CAST(300 AS BIGINT) AS i16,
        CAST(0 AS BIGINT) AS i8z,
        CAST(200 AS BIGINT) AS u8,
        TRUE AS u8_oor,
        CAST(5 AS BIGINT) AS u16d,
        CAST(0.0 AS DOUBLE) AS f32z,
        '1970-01-01' AS dz,
        TRUE AS dt64n,
        '2024-01-02 03:04:05.123456' AS dt64,
        '3.14' AS dec2,
        TRUE AS decn,
        '0.00' AS decz,
        '1.2.3.4' AS ip,
        TRUE AS ipn,
        '0.0.0.0' AS ipz,
        CAST(2 AS BIGINT) AS msi,
        CAST(2 AS BIGINT) AS msp,
        TRUE AS msa,
        '2024-01-02 03:04:05' AS pd64,
        'default' AS cu"""),

    // Round-12: toIPv6 conversion family (DNS-free parse, RFC 5952
    // canonical carrier, IPv4-mapped form) + the 128/256-bit
    // reinterpret lanes (LE byte image on the wide-int decimal-string
    // carrier; 'ab' = 0x6261 LE = 25185, the reference's own docs
    // example for the narrow lanes).
    Q.ch("q_fn_ipv6_wide", """
      SELECT
        toIPv6('2001:0db8:0000:0000:0000:0000:0000:0001') AS canon,
        toIPv6OrNull('not-an-ip') AS bad_null,
        toIPv6OrZero('not-an-ip') AS bad_zero,
        toIPv6OrDefault('not-an-ip', '::1') AS bad_dflt,
        toIPv6('1.2.3.4') AS v4_mapped,
        reinterpretAsUInt128('ab') AS u128,
        reinterpretAsUInt256('ab') AS u256,
        reinterpretAsInt128(unhex(repeat('ff', 16))) AS i128_neg,
        reinterpretAsInt256(unhex(repeat('ff', 32))) AS i256_neg,
        reinterpretAsUInt128(unhex('0a')) AS u128_pad""",
      """
      SELECT
        '2001:db8::1' AS canon,
        CAST(NULL AS VARCHAR) AS bad_null,
        '::' AS bad_zero,
        '::1' AS bad_dflt,
        '::ffff:1.2.3.4' AS v4_mapped,
        '25185' AS u128,
        '25185' AS u256,
        '-1' AS i128_neg,
        '-1' AS i256_neg,
        '10' AS u128_pad"""),

    // ==== Date and time (sql/ChDateTime) ====

    // Date/time family (DateTimeTransforms.h: toYear/toMonth/toStartOf*,
    // dateDiff, addInterval): EXTRACT + date_trunc + interval arithmetic.
    Q.sparkSql("q_fn_datetime", """
      SELECT o_orderkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
        CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d,
        CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS q,
        DATE_TRUNC('month', o_orderdate) AS month_start,
        CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS week_start,
        o_orderdate + INTERVAL 30 DAY AS plus30,
        CAST(DATEDIFF(TIMESTAMP '2002-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_to_2002,
        LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
        DATE_FORMAT(o_orderdate, 'yyyy-MM') AS ym
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000""",
      """
      SELECT o_orderkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
        CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d,
        CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS q,
        DATE_TRUNC('month', o_orderdate) AS month_start,
        CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS week_start,
        o_orderdate + INTERVAL 30 DAY AS plus30,
        CAST(DATEDIFF('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS BIGINT) AS days_to_2002,
        LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
        STRFTIME(o_orderdate, '%Y-%m') AS ym
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000"""),

    // toStartOfInterval-style 15-minute bucketing (FunctionsTimeWindow /
    // toStartOfInterval): epoch-floor arithmetic, the batch analog of
    // tumble() — compared as epoch seconds.
    Q.sparkSql("q_fn_time_bucket", """
      SELECT
        CAST(FLOOR(UNIX_MICROS(ts) / 900000000) * 900 AS BIGINT) AS bucket_s,
        COUNT(*) AS n
      FROM events
      GROUP BY 1
      ORDER BY bucket_s""",
      """
      SELECT
        CAST(FLOOR(EPOCH_US(ts) / 900000000) * 900 AS BIGINT) AS bucket_s,
        COUNT(*) AS n
      FROM events
      GROUP BY 1
      ORDER BY bucket_s"""),

    // Date-manipulation tail: changeX (saturating), dateName, Julian-day
    // codecs, interval flooring, numeric date codecs, snowflake/UUIDv7.
    Q.ch("q_fn_date_tail", """
      SELECT
        CAST(changeYear(DATE'2020-02-29', 2023) AS DATE) AS cy,
        CAST(changeMonth(DATE'2024-01-31', 2) AS DATE) AS cm,
        CAST(changeDay(DATE'2024-02-15', 31) AS DATE) AS cd,
        changeHour(TIMESTAMP'2024-03-15 10:30:45', 5) AS chh,
        changeMinute(TIMESTAMP'2024-03-15 10:30:45', 0) AS chm,
        changeSecond(TIMESTAMP'2024-03-15 10:30:45', 0) AS chs,
        dateName('month', TIMESTAMP'2024-03-15 10:30:45') AS mn,
        dateName('weekday', TIMESTAMP'2024-03-15 10:30:45') AS wd,
        dateName('year', TIMESTAMP'2024-03-15 10:30:45') AS yn,
        CAST(timeDiff(TIMESTAMP'2024-01-01 00:00:00',
                      TIMESTAMP'2024-01-01 00:01:40') AS BIGINT) AS td,
        CAST(toModifiedJulianDay(DATE'1858-11-17') AS INT) AS mjd0,
        CAST(toModifiedJulianDay(DATE'2020-01-01') AS INT) AS mjd,
        fromModifiedJulianDay(58849) AS fmjd,
        fromDaysSinceYearZero(693961) AS fdy,
        CAST(toDaysSinceYearZero(DATE'1900-01-01') AS INT) AS tdy,
        toStartOfFiveMinute(TIMESTAMP'2024-01-01 10:07:30') AS s5,
        toStartOfFifteenMinutes(TIMESTAMP'2024-01-01 10:17:30') AS s15,
        toStartOfInterval(TIMESTAMP'2024-01-01 10:07:30', INTERVAL 10 MINUTE) AS si,
        toStartOfInterval(DATE'2024-05-15', INTERVAL 2 MONTH) AS sim,
        YYYYMMDDToDate(20240315) AS ymd,
        YYYYMMDDhhmmssToDateTime(20240315103045) AS ymdh,
        CAST(dateTimeToSnowflake(TIMESTAMP'2021-08-15 18:57:56') AS BIGINT) AS sf,
        snowflakeToDateTime(1426981498778550272) AS sfb,
        UUIDv7ToDateTime('01890a5d-ac96-774b-b9aa-000000000000') AS uv7""",
      """
      SELECT DATE '2023-02-28' AS cy, DATE '2024-02-29' AS cm,
        DATE '2024-02-29' AS cd,
        TIMESTAMP '2024-03-15 05:30:45' AS chh,
        TIMESTAMP '2024-03-15 10:00:45' AS chm,
        TIMESTAMP '2024-03-15 10:30:00' AS chs,
        'March' AS mn, 'Friday' AS wd, '2024' AS yn,
        CAST(100 AS BIGINT) AS td, 0 AS mjd0, 58849 AS mjd,
        DATE '2020-01-01' AS fmjd, DATE '1900-01-01' AS fdy,
        693961 AS tdy,
        TIMESTAMP '2024-01-01 10:05:00' AS s5,
        TIMESTAMP '2024-01-01 10:15:00' AS s15,
        TIMESTAMP '2024-01-01 10:00:00' AS si,
        DATE '2024-05-01' AS sim,
        DATE '2024-03-15' AS ymd,
        TIMESTAMP '2024-03-15 10:30:45' AS ymdh,
        CAST(1426981498778550272 AS BIGINT) AS sf,
        TIMESTAMP '2021-08-15 18:57:56' AS sfb,
        TIMESTAMP '2023-06-30 03:34:18' AS uv7"""),

    // Misc wave: MySQL-style formatDateTime/parseDateTime, best-effort
    // parsing, make-date/time, 64-bit unix codecs, timestampDiff.
    Q.ch("q_fn_misc_datetime", """
      SELECT
        formatDateTime(TIMESTAMP'2024-03-15 10:30:45', '%Y-%m-%d %H:%i:%S') AS fd,
        formatDateTime(TIMESTAMP'2024-03-15 10:30:45', '%M %d, %Y') AS fd2,
        formatDateTimeInJodaSyntax(TIMESTAMP'2024-03-15 10:30:45', 'yyyy/MM/dd') AS fdj,
        parseDateTime('2024-03-15 10:30:45', '%Y-%m-%d %H:%i:%S') AS pd,
        parseDateTimeOrNull('bad', '%Y-%m-%d') AS pdn,
        parseDateTimeBestEffort('15/03/2024 10:30:45') AS pbe,
        parseDateTimeBestEffort('2024-03-15') AS pbe2,
        makeDate(2024, 3, 15) AS mdv,
        makeDateTime(2024, 3, 15, 10, 30, 45) AS mdt,
        CAST(week(DATE'2024-01-04') AS INT) AS wk,
        CAST(millisecond(TIMESTAMP'2024-01-01 00:00:00.123') AS INT) AS ms,
        dateTrunc('month', TIMESTAMP'2024-03-15 10:30:45') AS dtr,
        CAST(timestamp_diff('day', TIMESTAMP'2024-01-01 00:00:00',
          TIMESTAMP'2024-01-11 00:00:00') AS BIGINT) AS tsd,
        CAST(to_days(DATE'1900-01-01') AS INT) AS tdv,
        from_days(693961) AS fdv,
        fromUnixTimestamp64Milli(1700000000123) AS fu64,
        CAST(toUnixTimestamp64Milli(TIMESTAMP'2023-11-14 22:13:20.123') AS BIGINT) AS tu64,
        CAST(toUnixTimestamp64Nano(fromUnixTimestamp64Nano(1700000000123456000))
          AS BIGINT) AS nrt""",
      """
      SELECT '2024-03-15 10:30:45' AS fd, 'March 15, 2024' AS fd2,
        '2024/03/15' AS fdj, TIMESTAMP '2024-03-15 10:30:45' AS pd,
        CAST(NULL AS TIMESTAMP) AS pdn,
        TIMESTAMP '2024-03-15 10:30:45' AS pbe,
        TIMESTAMP '2024-03-15 00:00:00' AS pbe2,
        DATE '2024-03-15' AS mdv,
        TIMESTAMP '2024-03-15 10:30:45' AS mdt,
        1 AS wk, 123 AS ms, TIMESTAMP '2024-03-01 00:00:00' AS dtr,
        CAST(10 AS BIGINT) AS tsd, 693961 AS tdv, DATE '1900-01-01' AS fdv,
        TIMESTAMP '2023-11-14 22:13:20.123' AS fu64,
        CAST(1700000000123 AS BIGINT) AS tu64,
        CAST(1700000000123456000 AS BIGINT) AS nrt"""),

    // Date tail 2: week boundaries, ISO year, relative bucket ids,
    // unit add/subtract complement, toTime/timeslot, age.
    Q.ch("q_fn_date_tail2", """
      SELECT
        toStartOfWeek(DATE'2024-03-15') AS sow,
        toLastDayOfWeek(DATE'2024-03-15') AS ldw,
        CAST(toISOYear(DATE'2021-01-01') AS INT) AS iy,
        CAST(toYYYYMMDDhhmmss(TIMESTAMP'2024-03-15 10:30:45') AS BIGINT) AS ymdhms,
        toTime(TIMESTAMP'2024-03-15 10:30:45') AS tt,
        timeslot(TIMESTAMP'2024-01-01 10:44:00') AS tsl,
        CAST(toRelativeYearNum(DATE'2024-03-15') AS INT) AS ry,
        CAST(toRelativeQuarterNum(DATE'2024-03-15') AS INT) AS rq,
        CAST(toRelativeMonthNum(DATE'2024-03-15') AS INT) AS rm,
        CAST(toRelativeDayNum(DATE'1970-01-11') AS INT) AS rd,
        CAST(toRelativeHourNum(TIMESTAMP'1970-01-02 01:00:00') AS BIGINT) AS rh,
        CAST(toRelativeSecondNum(TIMESTAMP'1970-01-01 00:01:40') AS BIGINT) AS rs,
        CAST(toRelativeWeekNum(DATE'1970-01-05') AS BIGINT) AS rw,
        addMilliseconds(TIMESTAMP'2024-01-01 00:00:00', 1500) AS ams,
        subtractHours(TIMESTAMP'2024-03-15 10:30:45', 2) AS sh,
        CAST(subtractWeeks(DATE'2024-03-15', 1) AS DATE) AS sw,
        subtractSeconds(TIMESTAMP'2024-03-15 10:30:45', 45) AS ss,
        CAST(age('day', DATE'2024-01-01', DATE'2024-03-01') AS BIGINT) AS ag""",
      """
      SELECT DATE '2024-03-10' AS sow, DATE '2024-03-16' AS ldw, 2020 AS iy,
        CAST(20240315103045 AS BIGINT) AS ymdhms,
        TIMESTAMP '1970-01-02 10:30:45' AS tt,
        TIMESTAMP '2024-01-01 10:30:00' AS tsl,
        2024 AS ry, 8096 AS rq, 24291 AS rm, 10 AS rd,
        CAST(25 AS BIGINT) AS rh, CAST(100 AS BIGINT) AS rs,
        CAST(1 AS BIGINT) AS rw,
        TIMESTAMP '2024-01-01 00:00:01.5' AS ams,
        TIMESTAMP '2024-03-15 08:30:45' AS sh,
        DATE '2024-03-08' AS sw,
        TIMESTAMP '2024-03-15 10:30:00' AS ss,
        CAST(60 AS BIGINT) AS ag""",
      ),

    // Interval constructors + toStartOfSecond.
    Q.ch("q_fn_interval_ctors", """
      SELECT
        TIMESTAMP'2024-01-01 00:00:00' + toIntervalDay(3) AS d3,
        TIMESTAMP'2024-01-01 00:00:00' + toIntervalHour(5) AS h5,
        TIMESTAMP'2024-01-01 00:00:00' + toIntervalMinute(90) AS m90,
        TIMESTAMP'2024-01-01 00:00:00' + toIntervalSecond(75) AS s75,
        CAST(DATE'2024-01-01' + toIntervalWeek(2) AS DATE) AS w2,
        CAST(DATE'2024-01-31' + toIntervalMonth(1) AS DATE) AS mo1,
        CAST(DATE'2024-01-01' + toIntervalQuarter(1) AS DATE) AS q1,
        CAST(DATE'2020-02-29' + toIntervalYear(1) AS DATE) AS y1,
        toStartOfSecond(TIMESTAMP'2024-01-01 10:20:30.789') AS sos""",
      """
      SELECT TIMESTAMP '2024-01-04 00:00:00' AS d3,
        TIMESTAMP '2024-01-01 05:00:00' AS h5,
        TIMESTAMP '2024-01-01 01:30:00' AS m90,
        TIMESTAMP '2024-01-01 00:01:15' AS s75,
        DATE '2024-01-15' AS w2, DATE '2024-02-29' AS mo1,
        DATE '2024-04-01' AS q1, DATE '2021-02-28' AS y1,
        TIMESTAMP '2024-01-01 10:20:30' AS sos"""),

    // Round-5 sweep wave 2: date tail — ISO-year start, custom weeks
    // (toCustomWeek.cpp modes 0/1/3), millisecond component, month name,
    // MJD OrNull twins, sub-second truncation, snowflake *ID codecs
    // (epoch-0 default per dateTimeToSnowflakeID.cpp) + legacy 64 pair.
    Q.ch("q_fn_date_tail3", """
      SELECT
        toStartOfISOYear(DATE'2021-01-01') AS iso1,
        toStartOfISOYear(DATE'2024-06-15') AS iso2,
        CAST(toMillisecond(TIMESTAMP'2024-01-02 03:04:05.678') AS INT) AS ms,
        monthName(DATE'2024-03-15') AS mn,
        CAST(toWeek(DATE'2016-12-27') AS INT) AS w0a,
        CAST(toWeek(DATE'2024-01-01') AS INT) AS w0b,
        CAST(toWeek(DATE'2024-01-07') AS INT) AS w0c,
        CAST(toWeek(DATE'2019-12-30', 1) AS INT) AS w1a,
        CAST(toWeek(DATE'2021-01-01', 1) AS INT) AS w1b,
        CAST(toWeek(DATE'2024-01-01', 3) AS INT) AS w3,
        CAST(toYearWeek(DATE'2016-12-27') AS INT) AS yw0a,
        CAST(toYearWeek(DATE'2024-01-01') AS INT) AS yw0b,
        CAST(toYearWeek(DATE'2024-01-01', 3) AS INT) AS yw3,
        CAST(toModifiedJulianDayOrNull('2020-01-01') AS INT) AS mjd,
        CAST(toModifiedJulianDayOrNull('garbage') AS INT) AS mjdn,
        fromModifiedJulianDayOrNull(58849) AS fmjd,
        fromDaysSinceYearZero32(719528) AS fdy32,
        toStartOfMillisecond(TIMESTAMP'2024-01-02 03:04:05.678912') AS sms,
        toStartOfFiveMinutes(TIMESTAMP'2024-01-02 03:07:09') AS s5m,
        CAST(dateTimeToSnowflakeID(TIMESTAMP'2021-08-15 18:57:56') AS BIGINT) AS sfid,
        snowflakeIDToDateTime(6832747188322304000) AS sfidb,
        snowflakeIDToDateTime64(6832747188322304000) AS sfidb64,
        CAST(dateTime64ToSnowflake(TIMESTAMP'2021-08-15 18:57:56.492') AS BIGINT) AS sf64,
        snowflakeToDateTime64(1426981500842147840) AS sf64b""",
      """
      SELECT DATE '2019-12-30' AS iso1, DATE '2024-01-01' AS iso2,
        678 AS ms, 'March' AS mn,
        52 AS w0a, 0 AS w0b, 1 AS w0c, 53 AS w1a, 0 AS w1b, 1 AS w3,
        201652 AS yw0a, 202353 AS yw0b, 202401 AS yw3,
        58849 AS mjd, CAST(NULL AS INT) AS mjdn,
        DATE '2020-01-01' AS fmjd, DATE '1970-01-01' AS fdy32,
        TIMESTAMP '2024-01-02 03:04:05.678' AS sms,
        TIMESTAMP '2024-01-02 03:05:00' AS s5m,
        CAST(6832747188322304000 AS BIGINT) AS sfid,
        TIMESTAMP '2021-08-15 18:57:56' AS sfidb,
        TIMESTAMP '2021-08-15 18:57:56' AS sfidb64,
        CAST(1426981500842147840 AS BIGINT) AS sf64,
        TIMESTAMP '2021-08-15 18:57:56.492' AS sf64b"""),

    // Time-window scalars (FunctionsTimeWindow.cpp): tumble/hop window
    // bounds as fixed-duration floor arithmetic; hopEnd is the latest
    // hop-aligned end past ts (the step-back loop closed-form), and
    // windowId is the gcd-aligned window end in epoch seconds.
    Q.ch("q_fn_time_window", """
      SELECT
        CAST(tumbleStart(toDateTime('2024-01-02 03:47:30'), INTERVAL 1 HOUR) AS STRING) AS ts_s,
        CAST(tumbleEnd(toDateTime('2024-01-02 03:47:30'), INTERVAL 1 HOUR) AS STRING) AS ts_e,
        CAST(tumble(toDateTime('2024-01-02 03:47:30'), INTERVAL 1 HOUR).col1 AS STRING) AS tup_s,
        CAST(tumble(toDateTime('2024-01-02 03:47:30'), INTERVAL 1 HOUR).col2 AS STRING) AS tup_e,
        CAST(hopStart(toDateTime('2024-01-02 03:47:30'), INTERVAL 15 MINUTE, INTERVAL 1 HOUR) AS STRING) AS h_s,
        CAST(hopEnd(toDateTime('2024-01-02 03:47:30'), INTERVAL 15 MINUTE, INTERVAL 1 HOUR) AS STRING) AS h_e,
        CAST(windowId(toDateTime('2024-01-02 03:47:30'), INTERVAL 15 MINUTE, INTERVAL 1 HOUR) AS BIGINT) AS wid,
        CAST(windowId(toDateTime('2024-01-02 03:47:30'), INTERVAL 1 HOUR) AS BIGINT) AS wid_t""",
      """
      SELECT
        '2024-01-02 03:00:00' AS ts_s,
        '2024-01-02 04:00:00' AS ts_e,
        '2024-01-02 03:00:00' AS tup_s,
        '2024-01-02 04:00:00' AS tup_e,
        '2024-01-02 03:00:00' AS h_s,
        '2024-01-02 04:00:00' AS h_e,
        CAST(1704168000 AS BIGINT) AS wid,
        CAST(1704168000 AS BIGINT) AS wid_t"""),

    // ==== Strings and JSON (sql/ChStrings) ====

    // String family (position/like/replace/concat/substring/lower/upper/
    // trim/reverse/lpad/split — src/Functions/position*.cpp, like.cpp,
    // replace*.cpp, concat.cpp, substring.cpp, trim.cpp, ...).
    Q.shared("q_fn_string", """
      SELECT p_partkey,
        UPPER(p_name) AS up,
        LOWER(p_brand) AS lo,
        LENGTH(p_name) AS len,
        SUBSTRING(p_name, 1, 8) AS sub,
        REPLACE(p_type, 'PROMO', 'P_') AS repl,
        CONCAT(p_brand, ':', p_type) AS cat,
        TRIM('  x  ') AS trimmed,
        REVERSE(p_brand) AS rev,
        LPAD(CAST(p_size AS STRING), 4, '0') AS padded,
        POSITION('o' IN p_name) AS pos,
        p_name LIKE '%red%' AS has_red,
        p_type LIKE 'PRO%' AS is_promo
      FROM part
      ORDER BY p_partkey
      LIMIT 500"""),

    // Split / tokenize (splitByChar.cpp): SPLIT in Spark is regex-based,
    // DuckDB string_split is literal.
    Q.sparkSql("q_fn_split", """
      SELECT p_partkey,
        ARRAY_JOIN(SPLIT(p_name, ' '), '|') AS words,
        CAST(SIZE(SPLIT(p_name, ' ')) AS BIGINT) AS n_words,
        ELEMENT_AT(SPLIT(p_name, ' '), 1) AS first_word
      FROM part ORDER BY p_partkey LIMIT 500""",
      """
      SELECT p_partkey,
        ARRAY_TO_STRING(STRING_SPLIT(p_name, ' '), '|') AS words,
        CAST(LEN(STRING_SPLIT(p_name, ' ')) AS BIGINT) AS n_words,
        STRING_SPLIT(p_name, ' ')[1] AS first_word
      FROM part ORDER BY p_partkey LIMIT 500"""),

    // JSON family (FunctionsJSON.cpp: JSONExtract*/JSONHas/JSONLength):
    // events.props is {"k": N}.
    Q.sparkSql("q_fn_json", """
      SELECT event_id,
        CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT) AS k,
        GET_JSON_OBJECT(props, '$.missing') IS NOT NULL AS has_missing,
        FROM_JSON(props, 'k BIGINT').k AS parsed_k
      FROM events
      ORDER BY event_id
      LIMIT 2000""",
      """
      SELECT event_id,
        CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k,
        JSON_EXTRACT_STRING(props, '$.missing') IS NOT NULL AS has_missing,
        CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS parsed_k
      FROM events
      ORDER BY event_id
      LIMIT 2000"""),

    // format (src/Functions/format.cpp) → format_string / printf.
    Q.sparkSql("q_fn_format", """
      SELECT p_partkey,
        FORMAT_STRING('%s|%05d|%.2f', p_brand, p_size, p_retailprice) AS line
      FROM part
      ORDER BY p_partkey
      LIMIT 300""",
      """
      SELECT p_partkey,
        PRINTF('%s|%05d|%.2f', p_brand, p_size, p_retailprice) AS line
      FROM part
      ORDER BY p_partkey
      LIMIT 300"""),

    // Split family (separator-first reference order) + alphaTokens/tokens.
    Q.ch("q_fn_split_tail", """
      SELECT
        arrayStringConcat(splitByString('::', 'a::b::c'), '|') AS sbs,
        arrayStringConcat(splitByRegexp('[0-9]+', 'a1b22c'), '|') AS sbr,
        arrayStringConcat(splitByWhitespace('  a  b c '), '|') AS sbw,
        arrayStringConcat(splitByNonAlpha('a,b ; c'), '|') AS sbn,
        arrayStringConcat(alphaTokens('abc123def456'), '|') AS at,
        arrayStringConcat(tokens('one two,three'), '|') AS tk""",
      """
      SELECT 'a|b|c' AS sbs, 'a|b|c' AS sbr, 'a|b|c' AS sbw,
        'a|b|c' AS sbn, 'abc|def' AS at, 'one|two|three' AS tk"""),

    // simpleJSON / visitParam family over get_json_object, plus
    // JSONArrayLength / toJSONString / extractKeyValuePairs.
    Q.ch("q_fn_simplejson", """
      SELECT
        CAST(simpleJSONExtractInt(j, 'a') AS BIGINT) AS i,
        simpleJSONExtractString(j, 'b') AS s,
        CAST(simpleJSONExtractFloat(j, 'c') AS DOUBLE) AS f,
        simpleJSONExtractBool(j, 'd') AS bl,
        simpleJSONExtractRaw(j, 'e') AS raw,
        simpleJSONExtractString(j, 'zz') AS missing,
        simpleJSONHas(j, 'a') AS h,
        simpleJSONHas(j, 'z') AS h0,
        visitParamExtractString(j, 'b') AS vp,
        CAST(visitParamExtractUInt(j, 'a') AS BIGINT) AS vpu,
        CAST(JSONArrayLength('[1,2,3]') AS INT) AS jal,
        toJSONString(map('k', 1)) AS tjs,
        arrayStringConcat(arraySort(mapKeys(
          extractKeyValuePairs('a:1,b:2'))), ',') AS kvk,
        element_at(extractKeyValuePairs('a:1,b:2'), 'a') AS kva
      FROM (SELECT '{"a":1,"b":"x","c":2.5,"d":true,"e":{"f":3}}' AS j)""",
      """
      SELECT CAST(1 AS BIGINT) AS i, 'x' AS s, CAST(2.5 AS DOUBLE) AS f,
        true AS bl, '{"f":3}' AS raw, '' AS missing, true AS h, false AS h0, 'x' AS vp,
        CAST(1 AS BIGINT) AS vpu, 3 AS jal, '{"k":1}' AS tjs,
        'a,b' AS kvk, '1' AS kva"""),

    // Misc wave: formatReadable* renderings, CH format(), mapSort.
    Q.ch("q_fn_misc_format", """
      SELECT
        formatReadableSize(1536) AS frs,
        formatReadableSize(1073741824) AS frs2,
        formatReadableSize(100) AS frs3,
        formatReadableDecimalSize(1500000) AS frd,
        formatReadableQuantity(1234567) AS frq,
        formatReadableTimeDelta(90061) AS frt,
        formatReadableTimeDelta(0) AS frt0,
        format('{} + {} = {}', 1, 2, 3) AS fmt,
        format('{1} {0}', 'a', 'b') AS fmtp,
        toJSONString(mapSort(map('b', 2, 'a', 1))) AS msort""",
      """
      SELECT '1.50 KiB' AS frs, '1.00 GiB' AS frs2, '100.00 B' AS frs3,
        '1.50 MB' AS frd, '1.23 million' AS frq,
        '1 day, 1 hour, 1 minute, 1 second' AS frt, '0 seconds' AS frt0,
        '1 + 2 = 3' AS fmt, 'b a' AS fmtp, '{"a":1,"b":2}' AS msort"""),

    // IDN/punycode/Unicode-normalization bridges + caseWithExpression.
    Q.ch("q_fn_idna_norm", """
      SELECT
        idnaEncode('münchen.de') AS ie,
        idnaDecode('xn--mnchen-3ya.de') AS idc,
        punycodeEncode('münchen') AS pe,
        punycodeDecode('mnchen-3ya') AS pdc,
        tryIdnaEncode('ok.com') AS tie,
        CAST(length(normalizeUTF8NFD('é')) AS INT) AS nfd_len,
        CAST(length(normalizeUTF8NFC(normalizeUTF8NFD('é'))) AS INT) AS nfc_len,
        normalizeUTF8NFKC('ﬁ') AS nfkc,
        caseWithExpression(2, array(1, 2, 3), array(10, 20, 30), -1) AS cw,
        caseWithExpression(9, array(1, 2), array(10, 20), -1) AS cwd""",
      """
      SELECT 'xn--mnchen-3ya.de' AS ie, 'münchen.de' AS idc,
        'mnchen-3ya' AS pe, 'münchen' AS pdc, 'ok.com' AS tie,
        2 AS nfd_len, 1 AS nfc_len, 'fi' AS nfkc, 20 AS cw, -1 AS cwd"""),

    // Multimodal metadata: real PNG/GIF/JPEG header parsing over binary
    // columns (crafted literal headers; no image libraries involved).
    Q.ch("q_multimodal_image_dims", """
      SELECT
        imageDimensions(unhex('89504E470D0A1A0A0000000D4948445200000140000000F00806000000')) AS png,
        imageDimensions(unhex('4749463839614001F000')) AS gif,
        imageDimensions(unhex('FFD8FFC000110800F0014003012200021101031101')) AS jpg,
        imageDimensions(unhex('DEADBEEF00112233445566')) AS unknown,
        audioInfo(unhex('52494646240000005741564' ||
          '5666D74201000000001000200' || '44AC0000')) AS wav,
        audioInfo(unhex('DEADBEEFDEADBEEFDEADBEEFDEADBEEFDEADBEEFDEADBEEFDEADBEEF')) AS notwav""",
      """
      SELECT '320x240' AS png, '320x240' AS gif, '320x240' AS jpg,
        CAST(NULL AS VARCHAR) AS unknown, '44100Hz 2ch' AS wav,
        CAST(NULL AS VARCHAR) AS notwav"""),

    // JSONExtract family with multi-key paths and 1-based indices.
    Q.ch("q_fn_jsonextract", """
      SELECT
        JSONExtractString(j, 'a', 'b') AS s,
        CAST(JSONExtractInt(j, 'arr', 2) AS BIGINT) AS i,
        CAST(JSONExtractFloat(j, 'f') AS DOUBLE) AS f,
        JSONExtractBool(j, 'ok') AS b,
        JSONExtractRaw(j, 'a') AS raw,
        JSONExtractString(j, 'zz') AS missing,
        JSONHas(j, 'arr', 1) AS h,
        JSONHas(j, 'arr', 9) AS h0,
        CAST(JSONLength(j, 'arr') AS INT) AS alen,
        CAST(JSONLength(j, 'a') AS INT) AS olen,
        arrayStringConcat(JSONExtractKeys(j, 'a'), ',') AS ks,
        arrayStringConcat(JSONExtractArrayRaw(j, 'arr'), ',') AS ar,
        JSONType(j, 'a') AS ty_o,
        JSONType(j, 'arr') AS ty_a,
        JSONType(j, 'f') AS ty_n,
        JSONType(j, 'ok') AS ty_b
      FROM (SELECT '{"a":{"b":"x"},"arr":[10,20,30],"f":2.5,"ok":true}' AS j)""",
      """
      SELECT 'x' AS s, CAST(20 AS BIGINT) AS i, CAST(2.5 AS DOUBLE) AS f,
        true AS b, '{"b":"x"}' AS raw, '' AS missing, true AS h,
        false AS h0, 3 AS alen, 1 AS olen, 'b' AS ks,
        '10,20,30' AS ar, 'Object' AS ty_o, 'Array' AS ty_a,
        'Double' AS ty_n, 'Bool' AS ty_b"""),

    // Round-7 registry tail: base58/base32 codecs (published schemes;
    // 'Hello World!' -> '2NEpo7TZRRrLZSi2U' is the classic base58 test
    // vector), geohash encode/decode (public algorithm; sqc8b4 is
    // Palermo's published cell), addDate/subDate interval arithmetic,
    // UTC tz converters, and the id-generator shape contracts
    // (nondeterministic values -> the oracle states the invariants).
    Q.ch("q_fn_codec_tail4", """
      SELECT
        base58Encode('Hello World!') AS b58,
        base58Decode('2NEpo7TZRRrLZSi2U') AS b58d,
        base32Encode('graft') AS b32,
        base32Decode('M5ZGCZTU') AS b32d,
        tryBase58Decode('0bad') IS NULL AS b58_bad,
        tryBase32Decode('1!') IS NULL AS b32_bad,
        geohashEncode(13.361389, 38.115556, 6) AS gh,
        round(geohashDecode('sqc8b4').longitude, 4) AS gh_lon,
        round(geohashDecode('sqc8b4').latitude, 4) AS gh_lat,
        array_contains(geohashesInBox(13.0, 38.0, 13.4, 38.2, 4), 'sqc8') AS gh_box,
        CAST(addDate(DATE '2024-01-31', INTERVAL 1 MONTH) AS STRING) AS ad,
        CAST(subDate(DATE '2024-03-01', INTERVAL 1 DAY) AS STRING) AS sd,
        CAST(fromUTCTimestamp(TIMESTAMP '2024-06-01 12:00:00', 'UTC') AS STRING) AS futc,
        length(generateULID()) AS ulid_len,
        generateUUIDv7() RLIKE '^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$' AS v7_shape,
        generateUUIDv4() RLIKE '^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}$' AS v4_shape,
        generateSnowflakeID() > 0 AS snow_pos,
        length(FQDN()) > 0 AS has_fqdn""",
      """
      SELECT
        '2NEpo7TZRRrLZSi2U' AS b58,
        'Hello World!' AS b58d,
        'M5ZGCZTU' AS b32,
        'graft' AS b32d,
        TRUE AS b58_bad,
        TRUE AS b32_bad,
        'sqc8b4' AS gh,
        13.3649 AS gh_lon,
        38.1143 AS gh_lat,
        TRUE AS gh_box,
        '2024-02-29' AS ad,
        '2024-02-29' AS sd,
        '2024-06-01 12:00:00' AS futc,
        CAST(26 AS INT) AS ulid_len,
        TRUE AS v7_shape,
        TRUE AS v4_shape,
        TRUE AS snow_pos,
        TRUE AS has_fqdn"""),

    // URL-safe unpadded base64 (base64UrlEncode.cpp: '+'→'-', '/'→'_',
    // no '=' pad), compareSubstrings sign at 0-based offsets, byteSlice,
    // lastDay, UTCTimestamp sanity, nanosecond arithmetic on the µs
    // carrier (truncating — the documented DateTime64(6) cap).
    Q.ch("q_fn_tail2_misc", """
      SELECT
        base64URLEncode('~~~?') AS enc_plus_slash,
        base64URLEncode('ab') AS enc_pad1,
        base64URLEncode('many hands') AS enc_pad2,
        base64URLDecode('fn5-Pw') AS dec_plus_slash,
        base64URLDecode(base64URLEncode('round trip?~')) AS rt,
        compareSubstrings('clickhouse', 'clickbait', 0, 0, 5) AS cmp_eq,
        compareSubstrings('abc', 'abd', 2, 2, 1) AS cmp_lt,
        compareSubstrings('abz', 'aba', 2, 2, 1) AS cmp_gt,
        byteSlice('sparkle', 2, 3) AS bs,
        CAST(lastDay(toDate('2024-02-10')) AS STRING) AS ld_leap,
        CAST(lastDay(toDate('2023-02-10')) AS STRING) AS ld,
        UTCTimestamp() >= toDateTime('2026-01-01 00:00:00') AS utc_sane,
        CAST(addNanoseconds(toDateTime('2024-01-01 00:00:00'), 1500) AS STRING) AS ns_add,
        CAST(subtractNanoseconds(toDateTime('2024-01-01 00:00:00'), 2000) AS STRING) AS ns_sub""",
      """
      SELECT
        'fn5-Pw' AS enc_plus_slash,
        'YWI' AS enc_pad1,
        'bWFueSBoYW5kcw' AS enc_pad2,
        '~~~?' AS dec_plus_slash,
        'round trip?~' AS rt,
        0 AS cmp_eq,
        -1 AS cmp_lt,
        1 AS cmp_gt,
        'par' AS bs,
        '2024-02-29' AS ld_leap,
        '2023-02-28' AS ld,
        TRUE AS utc_sane,
        '2024-01-01 00:00:00.000001' AS ns_add,
        '2023-12-31 23:59:59.999998' AS ns_sub"""),

    // JSONMergePatch (RFC 7386) oracled against DuckDB's independent
    // json_merge_patch — both preserve target-then-patch key order, so
    // the comparison is byte-exact, including the delete-via-null and
    // scalar-replaces-object rules and the variadic left fold.
    Q.ch("q_fn_json_merge_patch", """
      SELECT
        JSONMergePatch('{"a":1,"b":{"x":1,"y":2}}', '{"b":{"y":null,"z":3},"c":4}') AS deep,
        JSONMergePatch('{"a":1}', '5') AS scalar_wins,
        JSONMergePatch('{"a":1}', '{"a":null}') AS delete_all,
        JSONMergePatch('{"a":1}', '{"b":2}', '{"c":3}') AS variadic,
        JSONMergePatch('{"a":{"b":{"c":1}}}', '{"a":{"b":{"d":2}}}') AS nested""",
      """
      SELECT
        json_merge_patch('{"a":1,"b":{"x":1,"y":2}}', '{"b":{"y":null,"z":3},"c":4}') AS deep,
        json_merge_patch('{"a":1}', '5') AS scalar_wins,
        json_merge_patch('{"a":1}', '{"a":null}') AS delete_all,
        json_merge_patch(json_merge_patch('{"a":1}', '{"b":2}'), '{"c":3}') AS variadic,
        json_merge_patch('{"a":{"b":{"c":1}}}', '{"a":{"b":{"d":2}}}') AS nested"""),

    // sqids (round 9 — sqid.cpp; the published sqids spec with the
    // default alphabet): the spec's own vectors ('86Rf07' for [1,2,3],
    // 'bM' for [0]) plus decode and a multi-number roundtrip.
    Q.ch("q_fn_sqids", """
      SELECT
        sqidEncode(1, 2, 3) AS s123,
        sqid(0) AS s0,
        arrayStringConcat(arrayMap(x -> toString(x),
          sqidDecode('86Rf07')), ',') AS d123,
        arrayStringConcat(arrayMap(x -> toString(x),
          sqidDecode(sqidEncode(123456789, 42, 0))), ',') AS rt""",
      """
      SELECT
        '86Rf07' AS s123,
        'bM' AS s0,
        '1,2,3' AS d123,
        '123456789,42,0' AS rt"""),

    // Round-12: the formatQuery printer family (formatQuery.cpp) —
    // canonical keyword case + spacing, clause breaks in the multiline
    // form, literal passthrough, comment elision, and NULL (not throw)
    // from the OrNull twins on tokenizer-detectable parse errors.
    Q.ch("q_fn_format_query", """
      SELECT
        formatQuery('select a,b from t where x=1 order by a') AS fq,
        formatQuerySingleLine(
          'select a,b from t where x=1 order by a') AS fq1,
        formatQuerySingleLine('select sum( x ) from t -- trailing') AS fn,
        formatQuerySingleLine('select lower(''ABC'') as s') AS lit,
        formatQueryOrNull('select (1') AS bad_paren,
        formatQueryOrNull('foo bar') AS bad_head,
        formatQuerySingleLineOrNull('select `x') AS bad_quote""",
      """
      SELECT
        'SELECT a, b' || chr(10) || 'FROM t' || chr(10) ||
          'WHERE x = 1' || chr(10) || 'ORDER BY a' AS fq,
        'SELECT a, b FROM t WHERE x = 1 ORDER BY a' AS fq1,
        'SELECT sum(x) FROM t' AS fn,
        'SELECT lower(''ABC'') AS s' AS lit,
        CAST(NULL AS VARCHAR) AS bad_paren,
        CAST(NULL AS VARCHAR) AS bad_head,
        CAST(NULL AS VARCHAR) AS bad_quote"""),

    // lemmatize / synonyms over session-registered dictionaries
    // (round-13; lemmatize.cpp / synonyms.cpp — the reference loads
    // dictionary FILES from server config, this engine registers them
    // per session; miss semantics pinned: lemmatize passes through,
    // synonyms → empty array). The oracle restates the registered
    // mapping as CASE expressions.
    Q("q_fn_nlp_dict", (s, dir) => {
      Tables.register(s, dir)
      graft.functions.NlpDictionaries.registerLemmatizer("q13_types", Seq(
        "ECONOMY" -> "econ", "STANDARD" -> "std", "PROMO" -> "promo"))
      graft.functions.NlpDictionaries.registerSynonyms("q13_syn", Seq(
        Seq("SMALL", "MEDIUM", "LARGE")))
      ClickHouseSql.sql(s, """
        SELECT p_partkey,
          lemmatize('q13_types', p_type) AS lem,
          CAST(size(synonyms('q13_syn', p_type)) AS INT) AS nsyn
        FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""")
    }, Some("""
      SELECT p_partkey,
        CASE p_type WHEN 'ECONOMY' THEN 'econ' WHEN 'STANDARD' THEN 'std'
                    WHEN 'PROMO' THEN 'promo' ELSE p_type END AS lem,
        CASE WHEN p_type IN ('SMALL', 'MEDIUM', 'LARGE') THEN 3
             ELSE 0 END AS nsyn
      FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""")),

    // ==== String search and distance (sql/ChStringSearch) ====

    // Regex family (match.cpp/replaceRegexp*.cpp via RE2 → Spark RLIKE/
    // REGEXP_REPLACE/REGEXP_EXTRACT; DuckDB wording differs for extract).
    Q.sparkSql("q_fn_regex", """
      SELECT p_partkey,
        p_name RLIKE '^[a-m]' AS starts_low,
        REGEXP_REPLACE(p_name, '[aeiou]', '_') AS devowel,
        REGEXP_EXTRACT(p_type, '([A-Z]+)', 1) AS first_word
      FROM part
      ORDER BY p_partkey
      LIMIT 500""",
      """
      SELECT p_partkey,
        REGEXP_MATCHES(p_name, '^[a-m]') AS starts_low,
        REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devowel,
        COALESCE(REGEXP_EXTRACT(p_type, '([A-Z]+)', 1), '') AS first_word
      FROM part
      ORDER BY p_partkey
      LIMIT 500"""),

    // String tail (position/count/hasToken/firstLine/basename/quoteMeta/
    // translate/hamming/jaccard/ngram similarity).
    Q.ch("q_fn_string_tail", """
      SELECT
        CAST(positionCaseInsensitive('Hello World', 'world') AS INT) AS pci,
        CAST(countSubstrings('abcabcabc', 'abc') AS INT) AS cs,
        CAST(countSubstringsCaseInsensitive('AbCabc', 'abc') AS INT) AS csi,
        CAST(countMatches('a1b22c333', '[0-9]+') AS INT) AS cm,
        hasToken('the quick fox', 'quick') AS ht,
        hasToken('thequickfox', 'quick') AS ht0,
        hasTokenCaseInsensitive('The QUICK fox', 'quick') AS htci,
        appendTrailingCharIfAbsent('dir', '/') AS atc,
        appendTrailingCharIfAbsent('dir/', '/') AS atc2,
        firstLine(concat('a', chr(10), 'b')) AS fl,
        basename('/usr/local/bin/spark') AS bn,
        regexpQuoteMeta('a.b*c') AS rqm,
        translateUTF8('abca', 'ac', 'xz') AS tr,
        reverseUTF8('abc') AS ru,
        CAST(byteHammingDistance('abc', 'abd') AS INT) AS bhd,
        CAST(byteHammingDistance('abc', 'ab') AS INT) AS bhd2,
        ROUND(stringJaccardIndex('abc', 'bcd'), 6) AS sji,
        arrayStringConcat(ngrams('abcd', 2), ',') AS ng,
        ROUND(ngramDistance('abcde', 'abcde'), 6) AS ngd,
        ROUND(ngramSearch('hello world', 'hello'), 6) AS ngs""",
      """
      SELECT 7 AS pci, 3 AS cs, 2 AS csi, 3 AS cm, true AS ht, false AS ht0,
        true AS htci, 'dir/' AS atc, 'dir/' AS atc2, 'a' AS fl,
        'spark' AS bn, 'a\.b\*c' AS rqm, 'xbzx' AS tr, 'cba' AS ru,
        1 AS bhd, 1 AS bhd2, CAST(0.5 AS DOUBLE) AS sji, 'ab,bc,cd' AS ng,
        CAST(0.0 AS DOUBLE) AS ngd, CAST(1.0 AS DOUBLE) AS ngs"""),

    // Misc wave: CI/UTF8 alias matrix, multiSearch matrix, regex extract.
    Q.ch("q_fn_misc_str", """
      SELECT
        CAST(positionCaseInsensitiveUTF8('Hello World', 'WORLD') AS INT) AS pci,
        ROUND(ngramDistanceCaseInsensitive('ABCDE', 'abcde'), 6) AS ngd,
        CAST(mismatches('abc', 'abd') AS INT) AS mm,
        CAST(countMatchesCaseInsensitive('A1a2', 'a') AS INT) AS cmi,
        notLike('abc', 'x%') AS nl,
        notILike('ABC', 'a%') AS nil,
        mid('hello', 2, 3) AS md,
        CAST(countDigits(1234) AS INT) AS cdg,
        isValidUTF8('x') AS iv,
        toValidUTF8('x') AS tv,
        arrayStringConcat(arrayMap(x -> toString(x),
          multiSearchAllPositions('hello world', array('lo', 'x', 'wor'))), ',') AS msap,
        CAST(multiSearchFirstIndex('hello', array('x', 'ell')) AS BIGINT) AS msfi,
        CAST(multiSearchFirstPosition('hello world', array('world', 'lo')) AS BIGINT) AS msfp,
        multiSearchAnyCaseInsensitive('Hello', array('ELL')) AS msci,
        CAST(multiMatchAnyIndex('abc123', array('^z', '[0-9]+')) AS BIGINT) AS mmai,
        arrayStringConcat(arrayMap(x -> toString(x),
          multiMatchAllIndices('abc123', array('^a', 'z', '[0-9]'))), ',') AS mmall,
        arrayStringConcat(extractAll('a1b22', '[0-9]+'), ',') AS ea,
        arrayStringConcat(extractGroups('2024-03-15', '(\\d+)-(\\d+)-(\\d+)'), ',') AS eg""",
      """
      SELECT 7 AS pci, CAST(0.0 AS DOUBLE) AS ngd, 1 AS mm, 2 AS cmi,
        true AS nl, false AS nil, 'ell' AS md, 4 AS cdg, true AS iv,
        'x' AS tv, '4,0,7' AS msap, CAST(2 AS BIGINT) AS msfi,
        CAST(4 AS BIGINT) AS msfp, true AS msci, CAST(2 AS BIGINT) AS mmai,
        '1,3' AS mmall, '1,22' AS ea, '2024,03,15' AS eg"""),

    // String-distance family over corpus word pairs (first/last word of
    // each of the first 200 docs), oracled against DuckDB's OWN distance
    // builtins — an independent second implementation of the same
    // definitions (verified: 0 divergences for jaro/jaroWinkler/
    // levenshtein/jaccard on this corpus; round 6 absorbs last-ulp
    // summation differences). damerauLevenshtein is deliberately NOT
    // here: the reference implements OSA while DuckDB implements
    // unrestricted DL, and the corpus pairs do diverge — pinned with
    // literals in the edge battery below instead.
    Q.ch("q_fn_string_distance", """
      SELECT doc_id,
        editDistance(w1, w2) AS lev,
        round(jaroSimilarity(w1, w2), 6) AS jaro,
        round(jaroWinklerSimilarity(w1, w2), 6) AS jw,
        round(stringJaccardIndex(w1, w2), 6) AS jac,
        round(stringJaccardIndexUTF8(w1, w2), 6) AS jac_utf8
      FROM (
        SELECT doc_id, element_at(ws, 1) AS w1, element_at(ws, -1) AS w2
        FROM (SELECT doc_id,
                filter(split(lower(text), '\\s+'), x -> length(x) > 0) AS ws
              FROM documents WHERE doc_id < 200))
      ORDER BY doc_id""",
      """
      WITH t AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), x -> LEN(x) > 0) AS ws
        FROM documents WHERE doc_id < 200)
      SELECT doc_id,
        CAST(levenshtein(ws[1], ws[-1]) AS INT) AS lev,
        round(jaro_similarity(ws[1], ws[-1]), 6) AS jaro,
        round(jaro_winkler_similarity(ws[1], ws[-1]), 6) AS jw,
        round(jaccard(ws[1], ws[-1]), 6) AS jac,
        round(jaccard(ws[1], ws[-1]), 6) AS jac_utf8
      FROM t ORDER BY doc_id"""),

    // Edge pins for the reference's documented-and-quirky corners:
    // damerauLevenshteinDistance is OSA (osa('ca','abc') = 3, where
    // unrestricted DL = 2 — DuckDB's damerau_levenshtein says 2, the
    // reference's FunctionsStringDistance.cpp:322 says 3, the oracle
    // states the reference's literal); jaroSimilarity returns the other
    // side's LENGTH on empty input (reference shortcut).
    Q.ch("q_fn_string_distance_edge", """
      SELECT
        damerauLevenshteinDistance('clickhouse', 'mouse') AS dl_doc,
        damerauLevenshteinDistance('ca', 'abc') AS dl_osa,
        damerauLevenshteinDistance('ab', 'ba') AS dl_swap,
        damerauLevenshteinDistance('', 'abc') AS dl_empty,
        round(jaroSimilarity('clickhouse', 'click'), 6) AS jaro_doc,
        round(jaroWinklerSimilarity('clickhouse', 'click'), 6) AS jw_doc,
        round(jaroSimilarity('', 'abc'), 6) AS jaro_empty_quirk,
        round(jaroSimilarity('abc', 'abc'), 6) AS jaro_same,
        round(jaroSimilarity('abc', 'xyz'), 6) AS jaro_disjoint,
        round(stringJaccardIndex('clickhouse', 'mouse'), 6) AS jac_doc,
        round(stringJaccardIndex('', 'abc'), 6) AS jac_empty""",
      """
      SELECT
        6 AS dl_doc,
        3 AS dl_osa,
        1 AS dl_swap,
        3 AS dl_empty,
        round(0.8333333333333334, 6) AS jaro_doc,
        round(0.9, 6) AS jw_doc,
        round(3.0, 6) AS jaro_empty_quirk,
        round(1.0, 6) AS jaro_same,
        round(0.0, 6) AS jaro_disjoint,
        round(0.4, 6) AS jac_doc,
        round(0.0, 6) AS jac_empty"""),

    // Round-12: the Hyperscan fuzzy family's literal lane — exact
    // approximate-substring semantics (Sellers DP) for metacharacter-
    // free patterns. Literal battery hand-computed; the corpus lane
    // pins distance-0 == plain substring containment (an equivalence
    // DuckDB restates with LIKE) and distance monotonicity.
    Q.ch("q_fn_fuzzy_match", """
      SELECT
        multiFuzzyMatchAny('hello world', 1, array('wprld')) AS any1,
        multiFuzzyMatchAny('hello world', 0, array('wprld')) AS any0,
        multiFuzzyMatchAny('ac', 1, array('abc')) AS ins1,
        CAST(multiFuzzyMatchAnyIndex('abc def', 1,
          array('zzz', 'dxf')) AS BIGINT) AS idx,
        arrayStringConcat(arrayMap(x -> toString(x),
          multiFuzzyMatchAllIndices('abcdef', 1,
            array('abd', 'zzz', 'def'))), ',') AS all_idx,
        agg.d0, agg.d1 >= agg.d0 AS mono
      FROM (
        SELECT
          sum(CASE WHEN multiFuzzyMatchAny(text, 0, array('the'))
              THEN 1 ELSE 0 END) AS d0,
          sum(CASE WHEN multiFuzzyMatchAny(text, 1, array('the'))
              THEN 1 ELSE 0 END) AS d1
        FROM documents) AS agg""",
      """
      SELECT
        TRUE AS any1,
        FALSE AS any0,
        TRUE AS ins1,
        CAST(2 AS BIGINT) AS idx,
        '1,3' AS all_idx,
        (SELECT count(*) FROM documents WHERE text LIKE '%the%') AS d0,
        TRUE AS mono"""),

    // ==== Hashes and encryption (sql/ChHashes) ====

    // Hash/encoding family (FunctionsHashing, base64Encode.cpp,
    // FunctionsBinaryRepresentation.cpp): engine-portable subset.
    Q.sparkSql("q_fn_hash_encode", """
      SELECT p_partkey,
        MD5(p_name) AS h_md5,
        SHA2(p_name, 256) AS h_sha,
        BASE64(CAST(p_brand AS BINARY)) AS b64,
        HEX(CAST(p_brand AS BINARY)) AS hx
      FROM part
      ORDER BY p_partkey
      LIMIT 200""",
      """
      SELECT p_partkey,
        MD5(p_name) AS h_md5,
        SHA256(p_name) AS h_sha,
        TO_BASE64(ENCODE(p_brand)) AS b64,
        HEX(ENCODE(p_brand)) AS hx
      FROM part
      ORDER BY p_partkey
      LIMIT 200"""),

    // Hash tail: value-compatible SHA-2 binary digests + CRC32IEEE;
    // shape-compatible stand-ins for non-JVM digests; constant
    // constructors (ignore/identity/indexHint/emptyArrayX).
    Q.ch("q_fn_hash_tail", """
      SELECT
        lower(hex(SHA224('abc'))) AS s224,
        lower(hex(SHA256('abc'))) AS s256,
        lower(hex(SHA384('abc'))) AS s384,
        lower(hex(SHA512('abc'))) AS s512,
        CAST(CRC32IEEE('abc') AS BIGINT) AS c32,
        murmurHash2_64('abc') <> 0 AS mm64,
        CAST(length(murmurHash3_128('abc')) AS INT) AS mm128len,
        CAST(length(blake3('x')) AS INT) AS b3len,
        CAST(length(ripemd160('x')) AS INT) AS riplen,
        CAST(length(md4('x')) AS INT) AS md4len,
        CAST(ignore(1, 2) AS INT) AS ig,
        CAST(identity(5) AS INT) AS idn,
        indexHint(1) AS ih,
        CAST(size(emptyArrayInt32()) AS INT) AS ea32,
        CAST(size(emptyArrayString()) AS INT) AS eas,
        CAST(size(emptyArrayDate()) AS INT) AS ead""",
      """
      SELECT '23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7' AS s224,
        'ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad' AS s256,
        'cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7' AS s384,
        'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f' AS s512,
        CAST(891568578 AS BIGINT) AS c32, true AS mm64, 16 AS mm128len,
        32 AS b3len, 20 AS riplen, 16 AS md4len, 0 AS ig, 5 AS idn,
        true AS ih, 0 AS ea32, 0 AS eas, 0 AS ead"""),

    // Jump consistent hash (bit-compatible), URL hierarchy chains,
    // arrayPartialSort.
    Q.ch("q_fn_jump_urlh", """
      SELECT
        CAST(jumpConsistentHash(42, 10) AS INT) AS jch,
        CAST(jumpConsistentHash(123456789, 100) AS INT) AS jch2,
        CAST(jumpConsistentHash(0, 7) AS INT) AS jch0,
        arrayStringConcat(URLHierarchy('https://example.com/browse/conv'), '|') AS uh,
        arrayStringConcat(URLHierarchy('https://example.com/'), '|') AS uh2,
        arrayStringConcat(URLPathHierarchy('https://example.com/browse/conv'), '|') AS up,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayPartialSort(2, array(3, 1, 2))), ',') AS ps""",
      """
      SELECT 2 AS jch, 34 AS jch2, 0 AS jch0,
        'https://example.com/|https://example.com/browse/|https://example.com/browse/conv' AS uh,
        'https://example.com/' AS uh2,
        '/browse/|/browse/conv' AS up, '1,2,3' AS ps"""),

    // Round-11 hash upgrade: EXTERNALLY-anchored values — the official
    // Appleby x86_32 'hello' vector and the JDK hashCode contract are
    // facts both engines can state as literals (the stand-ins these
    // lanes replaced could never be value-pinned).
    Q.ch("q_fn_real_hashes", """
      SELECT
        CAST(murmurHash3_32('hello') AS BIGINT) AS m3_hello,
        CAST(murmurHash3_32('') AS BIGINT) AS m3_empty,
        CAST(javaHash('abc') AS BIGINT) AS jh_abc,
        CAST(hiveHash('abc') AS BIGINT) AS hh_abc,
        CAST(length(murmurHash3_128('abc')) AS BIGINT) AS m128_len,
        murmurHash2_64('abc') <> murmurHash3_64('abc') AS algos_differ,
        CAST(crc64('') AS BIGINT) AS crc_empty""",
      """
      SELECT
        CAST(613153351 AS BIGINT) AS m3_hello,
        CAST(0 AS BIGINT) AS m3_empty,
        CAST(96354 AS BIGINT) AS jh_abc,
        CAST(96354 AS BIGINT) AS hh_abc,
        CAST(16 AS BIGINT) AS m128_len,
        TRUE AS algos_differ,
        CAST(0 AS BIGINT) AS crc_empty"""),

    // Query-log normalization (normalizeQuery.cpp): literals → ?, literal
    // lists → ?.., digit-heavy identifiers → ? unless KeepNames; the hash
    // form keys on the normalized text (two queries differing only in
    // literals collide, differing structure does not).
    Q.ch("q_fn_tail3_normalize", """
      SELECT
        normalizeQuery('SELECT a, b FROM t WHERE x = 123 AND name = ''foo'' AND k IN (1, 2, 3)') AS nq,
        normalizeQueryKeepNames('SELECT value_12345 FROM t WHERE x = 5') AS nqk,
        normalizeQuery('SELECT value_12345 FROM t WHERE x = 5') AS nq2,
        normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT 42') AS h_collide,
        normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT a') AS h_differ""",
      """
      SELECT
        'SELECT a, b FROM t WHERE x = ? AND name = ? AND k IN (?..)' AS nq,
        'SELECT value_12345 FROM t WHERE x = ?' AS nqk,
        'SELECT ? FROM t WHERE x = ?' AS nq2,
        TRUE AS h_collide,
        FALSE AS h_differ"""),

    // Encryption family: ECB bytes pinned against an openssl vector
    // (AES-128-ECB, PKCS7), CBC/GCM roundtrip, tryDecrypt wrong-key NULL.
    Q.ch("q_fn_tail3_crypto", """
      SELECT
        lower(hex(encrypt('aes-128-ecb', 'text', '0123456789abcdef'))) AS ecb_vec,
        CAST(decrypt('aes-128-ecb',
          encrypt('aes-128-ecb', 'round trip', '0123456789abcdef'),
          '0123456789abcdef') AS STRING) AS ecb_rt,
        CAST(decrypt('aes-256-cbc',
          encrypt('aes-256-cbc', 'cbc message', '0123456789abcdef0123456789abcdef'),
          '0123456789abcdef0123456789abcdef') AS STRING) AS cbc_rt,
        CAST(decrypt('aes-128-gcm',
          encrypt('aes-128-gcm', 'gcm message', 'abcdef0123456789'),
          'abcdef0123456789') AS STRING) AS gcm_rt,
        CAST(aes_decrypt_mysql('aes-128-ecb',
          aes_encrypt_mysql('aes-128-ecb', 'mysql twin', '0123456789abcdef'),
          '0123456789abcdef') AS STRING) AS mysql_rt,
        tryDecrypt('aes-128-ecb',
          encrypt('aes-128-ecb', 'secret', '0123456789abcdef'),
          'ffffffffffffffff') IS NULL AS try_wrong_key""",
      """
      SELECT
        '5f203f32c7582846938757ccadc13542' AS ecb_vec,
        'round trip' AS ecb_rt,
        'cbc message' AS cbc_rt,
        'gcm message' AS gcm_rt,
        'mysql twin' AS mysql_rt,
        TRUE AS try_wrong_key"""),

    // SimHash/MinHash scalar family + bitSlice + soundex
    // (FunctionsStringHash.cpp, bitSlice.cpp, soundex.cpp). Hash values
    // are engine-internal (stand-in policy) — the oracle states the
    // INVARIANTS both engines can check: near-identical strings land
    // within a small hamming distance, different strings land far,
    // minhash pairs match for equal inputs; soundex IS value-pinned
    // (standard algorithm); bitSlice against hex literals.
    Q.ch("q_fn_simhash_family", """
      SELECT
        bitCount(bitXor(ngramSimHash('the quick brown fox jumps over the dog'),
                        ngramSimHash('the quick brown fox jumps over the d0g'))) <= 16 AS near_close,
        bitCount(bitXor(ngramSimHash('the quick brown fox jumps over the dog'),
                        ngramSimHash('completely unrelated text about parquet columns'))) > 10 AS far_apart,
        ngramSimHash('abc') = ngramSimHash('abc') AS stable,
        ngramSimHashCaseInsensitive('ABC def') = ngramSimHashCaseInsensitive('abc DEF') AS ci_equal,
        wordShingleSimHash('a b c d e') = wordShingleSimHash('a b c d e') AS shingle_stable,
        tupleElement(ngramMinHash('hello world text'), 'col1')
          = tupleElement(ngramMinHash('hello world text'), 'col1') AS mh_stable,
        tupleElement(wordShingleMinHash('one two three four'), 'col1')
          <> tupleElement(wordShingleMinHash('five six seven eight'), 'col1') AS mh_differs,
        length(sipHash128('abc')) = 16 AS h128_len,
        soundex('Robert') AS sx1, soundex('Rupert') AS sx2, soundex('Ashcraft') AS sx3,
        hex(bitSlice(unhex('F0F0'), 5, 8)) AS bs1,
        hex(bitSlice(unhex('FF00'), 1, 4)) AS bs2""",
      """
      SELECT
        TRUE AS near_close, TRUE AS far_apart, TRUE AS stable, TRUE AS ci_equal,
        TRUE AS shingle_stable, TRUE AS mh_stable, TRUE AS mh_differs,
        TRUE AS h128_len,
        'R163' AS sx1, 'R163' AS sx2, 'A261' AS sx3,
        '0F' AS bs1, 'F0' AS bs2"""),

    // ==== Math, bits, logic and series (sql/ChMathBits) ====

    // Math family (FunctionsRound.cpp, exp/log/pow/sqrt/trig).
    Q.shared("q_fn_math", """
      SELECT p_partkey,
        ABS(p_size - 25) AS dist,
        CAST(CEIL(p_retailprice / 100.0) AS BIGINT) AS ceil_h,
        CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS floor_h,
        ROUND(SQRT(CAST(p_size AS DOUBLE)), 6) AS sq,
        ROUND(EXP(CAST(p_size AS DOUBLE) / 50.0), 6) AS ex,
        ROUND(LN(p_retailprice), 6) AS lnp,
        ROUND(LOG10(p_retailprice), 6) AS lg,
        ROUND(POW(CAST(p_size AS DOUBLE), 2.0), 1) AS p2,
        CAST(SIGN(p_size - 25) AS INT) AS sg,
        GREATEST(p_size, 10) AS gr,
        LEAST(p_size, 10) AS le,
        MOD(p_size, 7) AS md
      FROM part
      ORDER BY p_partkey
      LIMIT 500"""),

    // Conditional family (if/multiIf/caseWithExpression/coalesce/nullIf/
    // ifNull — src/Functions/if.cpp, multiIf.cpp, coalesce.cpp).
    Q.shared("q_fn_conditional", """
      SELECT o_orderkey,
        CASE WHEN o_totalprice > 200000.0 THEN 'big'
             WHEN o_totalprice > 100000.0 THEN 'mid'
             ELSE 'small' END AS size_class,
        CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open' ELSE 'other' END AS status_word,
        COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS coalesced,
        IFNULL(NULLIF(o_orderpriority, '5-LOW'), 'LOW') AS pr
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000"""),

    // rounding specials + string distance (FunctionsRound.cpp,
    // stringDistance.cpp) through the CH registry; oracle replays the
    // threshold buckets and uses DuckDB's levenshtein.
    Q.ch("q_fn_round_special_distance", """
      SELECT p_partkey,
        roundToExp2(p_size) AS e2,
        roundDuration(p_size * 37) AS dur,
        roundAge(p_size) AS age,
        levenshteinDistance(p_brand, p_type) AS lev
      FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
      """
      SELECT p_partkey,
        CASE WHEN p_size < 1 THEN 0
             ELSE CAST(POWER(2, FLOOR(LOG2(CAST(p_size AS DOUBLE)))) AS BIGINT)
        END AS e2,
        CASE WHEN p_size * 37 >= 36000 THEN 36000
             WHEN p_size * 37 >= 18000 THEN 18000
             WHEN p_size * 37 >= 7200 THEN 7200
             WHEN p_size * 37 >= 3600 THEN 3600
             WHEN p_size * 37 >= 1800 THEN 1800
             WHEN p_size * 37 >= 1200 THEN 1200
             WHEN p_size * 37 >= 600 THEN 600
             WHEN p_size * 37 >= 300 THEN 300
             WHEN p_size * 37 >= 240 THEN 240
             WHEN p_size * 37 >= 180 THEN 180
             WHEN p_size * 37 >= 120 THEN 120
             WHEN p_size * 37 >= 60 THEN 60
             WHEN p_size * 37 >= 30 THEN 30
             WHEN p_size * 37 >= 10 THEN 10
             WHEN p_size * 37 >= 1 THEN 1 ELSE 0 END AS dur,
        CASE WHEN p_size >= 55 THEN 55 WHEN p_size >= 45 THEN 45
             WHEN p_size >= 35 THEN 35 WHEN p_size >= 25 THEN 25
             WHEN p_size >= 18 THEN 18 WHEN p_size >= 1 THEN 17
             ELSE 0 END AS age,
        LEVENSHTEIN(p_brand, p_type) AS lev
      FROM part WHERE p_partkey <= 300 ORDER BY p_partkey"""),

    // Bit-manipulation family (bitAnd.cpp … bitTestAll.cpp,
    // bitPositionsToArray, bitmaskToArray/List).
    Q.ch("q_fn_bit", """
      SELECT
        CAST(bitAnd(12, 10) AS INT) AS ba,
        CAST(bitOr(12, 10) AS INT) AS bo,
        CAST(bitXor(12, 10) AS INT) AS bx,
        CAST(bitNot(0) AS INT) AS bn,
        CAST(bitShiftLeft(1, 4) AS INT) AS bsl,
        CAST(bitShiftRight(16, 2) AS INT) AS bsr,
        CAST(bitRotateLeft(1, 1) AS BIGINT) AS brl,
        CAST(bitRotateRight(2, 1) AS BIGINT) AS brr,
        CAST(bitCount(255) AS INT) AS bc,
        CAST(bitTest(5, 0) AS INT) AS bt1,
        CAST(bitTest(5, 1) AS INT) AS bt0,
        bitTestAll(7, 0, 1, 2) AS bta,
        bitTestAll(5, 0, 1) AS bta0,
        bitTestAny(4, 0, 2) AS bty,
        bitTestAny(8, 0, 1) AS bty0,
        CAST(bitHammingDistance(12, 10) AS INT) AS bhd,
        arrayStringConcat(arrayMap(x -> toString(x),
          bitPositionsToArray(10)), ',') AS bpa,
        arrayStringConcat(arrayMap(x -> toString(x),
          bitmaskToArray(10)), ',') AS bma,
        bitmaskToList(10) AS bml""",
      """
      SELECT 8 AS ba, 14 AS bo, 6 AS bx, -1 AS bn, 16 AS bsl, 4 AS bsr,
        CAST(2 AS BIGINT) AS brl, CAST(1 AS BIGINT) AS brr, 8 AS bc,
        1 AS bt1, 0 AS bt0, true AS bta, false AS bta0, true AS bty,
        false AS bty0, 2 AS bhd, '1,3' AS bpa, '2,8' AS bma, '2,8' AS bml"""),

    // Math tail (exp2/exp10/clamp/hypot/sigmoid/min2/max2, OrZero/OrNull
    // arithmetic, finite-ness predicates).
    Q.ch("q_fn_math_tail", """
      SELECT
        ROUND(exp2(3), 6) AS e2,
        ROUND(exp10(2), 6) AS e10,
        CAST(clamp(5, 1, 3) AS INT) AS cl_hi,
        CAST(clamp(-1, 1, 3) AS INT) AS cl_lo,
        ROUND(hypot(3, 4), 6) AS hy,
        ROUND(sigmoid(0), 6) AS sg,
        ROUND(min2(3, 4), 6) AS mn,
        ROUND(max2(3, 4), 6) AS mx,
        CAST(intDivOrZero(7, 2) AS BIGINT) AS idz,
        CAST(intDivOrZero(7, 0) AS BIGINT) AS idz0,
        CAST(moduloOrZero(7, 4) AS INT) AS mz,
        CAST(moduloOrZero(7, 0) AS INT) AS mz0,
        divideOrNull(1, 0) AS dn,
        ROUND(divideOrNull(1, 2), 6) AS dn2,
        ROUND(ifNotFinite(exp10(400), 42.0), 6) AS inf42,
        isFinite(1.5) AS fin,
        isInfinite(exp10(400)) AS isinf,
        isZeroOrNull(0) AS z0,
        isZeroOrNull(CAST(NULL AS INT)) AS zn""",
      """
      SELECT CAST(8.0 AS DOUBLE) AS e2, CAST(100.0 AS DOUBLE) AS e10,
        3 AS cl_hi, 1 AS cl_lo, CAST(5.0 AS DOUBLE) AS hy,
        CAST(0.5 AS DOUBLE) AS sg, CAST(3.0 AS DOUBLE) AS mn,
        CAST(4.0 AS DOUBLE) AS mx, CAST(3 AS BIGINT) AS idz,
        CAST(0 AS BIGINT) AS idz0, 3 AS mz, 0 AS mz0,
        CAST(NULL AS DOUBLE) AS dn, CAST(0.5 AS DOUBLE) AS dn2,
        CAST(42.0 AS DOUBLE) AS inf42, true AS fin, true AS isinf,
        true AS z0, true AS zn"""),

    // Misc wave: special math (commons-math3), gcd/lcm, byteSwap,
    // decimal arithmetic, null-guarded division.
    Q.ch("q_fn_misc_math", """
      SELECT
        ROUND(erf(1.0), 6) AS e1,
        ROUND(erfc(1.0), 6) AS ec1,
        ROUND(lgamma(5.0), 6) AS lg,
        ROUND(tgamma(5.0), 6) AS tg,
        CAST(gcd(12, 18) AS BIGINT) AS g,
        CAST(gcd(0, 5) AS BIGINT) AS g0,
        CAST(lcm(4, 6) AS BIGINT) AS l,
        CAST(lcm(0, 5) AS BIGINT) AS l0,
        CAST(byteSwap(1) AS BIGINT) AS bs,
        isInfinite(inf()) AS ii,
        isnan(nan()) AS inn,
        CAST(intDivOrNull(7, 0) AS BIGINT) AS idn,
        CAST(modOrNull(7, 0) AS BIGINT) AS mon,
        CAST(moduloLegacy(7, 4) AS INT) AS mleg,
        CAST(divideDecimal(10, 4, 2) AS STRING) AS dd,
        CAST(multiplyDecimal(1.5, 2, 2) AS STRING) AS mdec""",
      """
      SELECT CAST(0.842701 AS DOUBLE) AS e1, CAST(0.157299 AS DOUBLE) AS ec1,
        CAST(3.178054 AS DOUBLE) AS lg, CAST(24.0 AS DOUBLE) AS tg,
        CAST(6 AS BIGINT) AS g, CAST(5 AS BIGINT) AS g0,
        CAST(12 AS BIGINT) AS l, CAST(0 AS BIGINT) AS l0,
        CAST(72057594037927936 AS BIGINT) AS bs, true AS ii, true AS inn,
        CAST(NULL AS BIGINT) AS idn, CAST(NULL AS BIGINT) AS mon, 3 AS mleg,
        '2.50' AS dd, '3.00' AS mdec"""),

    seriesStl,

    // Series analytics (round 9 — seriesOutliersDetectTukey.cpp,
    // seriesPeriodDetectFFT.cpp): Tukey fences on a planted outlier
    // (q1=2, q3=4, k=1.5 → fences [-1, 7]; 100 scores 93) and the DFT
    // periodogram on a period-3 signal (the reference docs' example
    // shape), plus the <4-points NaN and flat-signal 0 contracts.
    Q.ch("q_fn_series", """
      SELECT
        arrayStringConcat(arrayMap(x -> toString(round(x, 2)),
          seriesOutliersDetectTukey(array(1.0, 2.0, 3.0, 4.0, 100.0))), ',') AS tukey,
        CAST(seriesPeriodDetectFFT(array(1, 4, 6, 1, 4, 6, 1, 4, 6, 1, 4, 6,
          1, 4, 6, 1, 4, 6, 1, 4, 6)) AS BIGINT) AS period,
        CAST(seriesPeriodDetectFFT(array(1.0, 2.0, 3.0)) AS STRING) AS short_nan,
        CAST(seriesPeriodDetectFFT(array(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0,
          5.0)) AS BIGINT) AS flat""",
      """
      SELECT
        '0.0,0.0,0.0,0.0,93.0' AS tukey,
        CAST(3 AS BIGINT) AS period,
        'NaN' AS short_nan,
        CAST(0 AS BIGINT) AS flat"""),

    // Round-12: the IN-operator function spellings (in.cpp registers
    // all eight as callable functions; null_is_skipped lanes yield NULL
    // for a NULL needle and skip set NULLs, nullIn lanes treat NULL as
    // a value). `in` itself is the Spark builtin; the set argument is
    // an ARRAY on this engine.
    Q.ch("q_fn_in_family", """
      SELECT
        notIn(2, array(1, 3)) AS ni,
        globalIn(2, array(1, 2)) AS gi,
        globalNotIn(2, array(1, 2)) AS gni,
        globalIn(2, array(1, NULL)) AS skip_null,
        CAST(globalIn(NULL, array(1)) AS STRING) AS null_needle,
        nullIn(NULL, array(1, NULL)) AS nin_hit,
        nullIn(NULL, array(1, 2)) AS nin_miss,
        globalNullIn(2, array(2, NULL)) AS gnin,
        notNullIn(NULL, array(1, NULL)) AS nnin,
        globalNotNullIn(3, array(1, NULL)) AS gnnin""",
      """
      SELECT
        TRUE AS ni,
        TRUE AS gi,
        FALSE AS gni,
        FALSE AS skip_null,
        CAST(NULL AS VARCHAR) AS null_needle,
        TRUE AS nin_hit,
        FALSE AS nin_miss,
        TRUE AS gnin,
        FALSE AS nnin,
        TRUE AS gnnin"""),

    // ==== Aggregate functions (sql/ChAggregates) ====

    // Aggregate aliases: sumKahan/sumWithOverflow, stable moment names,
    // discrete quantileExactLow/High.
    Q.ch("q_fn_agg_aliases", """
      SELECT
        CAST(sumKahan(x) AS DOUBLE) AS sk,
        CAST(sumWithOverflow(x) AS DOUBLE) AS swo,
        ROUND(stddevSampStable(x), 6) AS sss,
        ROUND(stddevPopStable(x), 6) AS sps,
        ROUND(varSampStable(x), 6) AS vss,
        ROUND(varPopStable(x), 6) AS vps,
        CAST(quantileExactLow(x, 0.5) AS DOUBLE) AS ql,
        CAST(quantileExactHigh(x, 0.5) AS DOUBLE) AS qh,
        ROUND(quantileExactInclusive(x, 0.5), 6) AS qi
      FROM VALUES (1.0D), (2.0D), (3.0D), (4.0D) AS t(x)""",
      """
      SELECT CAST(10.0 AS DOUBLE) AS sk, CAST(10.0 AS DOUBLE) AS swo,
        CAST(1.290994 AS DOUBLE) AS sss, CAST(1.118034 AS DOUBLE) AS sps,
        CAST(1.666667 AS DOUBLE) AS vss, CAST(1.25 AS DOUBLE) AS vps,
        CAST(2.0 AS DOUBLE) AS ql, CAST(3.0 AS DOUBLE) AS qh,
        CAST(2.5 AS DOUBLE) AS qi"""),

    // Registry sweep #9 wave 3: funnel-next-node, timestamp-ordered
    // delta sums, tuple-of-intervals arithmetic, categorical IV
    // (closed-form on a perfectly separable tag), JSON path
    // introspection, withWWW subdomain cuts, the generic toInterval,
    // and the analysis-time setting constants — all restated by DuckDB
    // as plain values over the same rows.
    Q.ch("q_fn_tail9d", """
      SELECT
        sequenceNextNode('forward', 'head')(ts, ev, TRUE,
          ev = 'home') AS snn,
        CAST(deltaSumTimestamp(v, ts) AS DOUBLE) AS dst,
        CAST(addTupleOfIntervals(toDate('2024-01-01'),
          struct(INTERVAL '1' MONTH, INTERVAL '2' DAY)) AS STRING) AS ati,
        arrayStringConcat(JSONAllPaths(
          '{"a": 1, "n": {"x": "u"}}'), ',') AS jap,
        cutToFirstSignificantSubdomainWithWWW(
          'https://www.news.example.com/p') AS www,
        CAST(toDate('2024-01-01') + toInterval(3, 'day') AS DATE) AS ti,
        CAST(round(entropy(ev), 6) AS DOUBLE) AS ent
      FROM (VALUES
        (TIMESTAMP '2024-01-01 10:00:00', 'home', 1.0),
        (TIMESTAMP '2024-01-01 10:01:00', 'gift', 3.0),
        (TIMESTAMP '2024-01-01 10:02:00', 'exit', 2.0),
        (TIMESTAMP '2024-01-01 10:03:00', 'home', 5.0)) AS t(ts, ev, v)""",
      """
      SELECT
        'gift' AS snn,
        CAST(5.0 AS DOUBLE) AS dst,
        '2024-02-03' AS ati,
        'a,n.x' AS jap,
        'www.example.com' AS www,
        DATE '2024-01-04' AS ti,
        CAST(1.5 AS DOUBLE) AS ent"""),

    // Registry sweep #9 wave 2: entropy, interval sweeps, groupBitmap
    // family, the remaining statistical tests (p-values via the
    // published erfc / incomplete-beta / Kolmogorov-series formulas —
    // the oracle restates each statistic in plain SQL and pins the
    // p-values to 6dp literals cross-checked against standard tables),
    // URLHash level algebra, numeric truncate, xor.
    Q.ch("q_fn_tail9c", """
      SELECT
        CAST(entropy(x % 2) AS DOUBLE) AS ent,
        CAST(maxIntersections(CAST(x AS DOUBLE),
          CAST(x + 3 AS DOUBLE)) AS BIGINT) AS mi,
        CAST(intervalLengthSum(CAST(x AS DOUBLE),
          CAST(x + 3 AS DOUBLE)) AS DOUBLE) AS ils,
        CAST(groupBitmap(x) AS BIGINT) AS gb,
        CAST(round(rankCorr(CAST(x AS DOUBLE),
          CAST(x * x AS DOUBLE)), 6) AS DOUBLE) AS rc,
        URLHash('http://example.com/a/') = URLHash('http://example.com/a')
          AS uh,
        CAST(truncate(-3.77) AS DOUBLE) AS tr,
        CAST(truncate(3.777, 2) AS DOUBLE) AS tr2,
        xor(x = 0, x = 1) AS xr,
        CAST(sumCount(x).count AS BIGINT) AS n
      FROM (SELECT id AS x FROM range(0, 8))
      GROUP BY xor(x = 0, x = 1)
      ORDER BY n DESC LIMIT 1""",
      """
      SELECT
        CAST(1.0 AS DOUBLE) AS ent,
        CAST(3 AS BIGINT) AS mi,
        CAST(8.0 AS DOUBLE) AS ils,
        CAST(6 AS BIGINT) AS gb,
        CAST(1.0 AS DOUBLE) AS rc,
        TRUE AS uh,
        CAST(-3.0 AS DOUBLE) AS tr,
        CAST(3.77 AS DOUBLE) AS tr2,
        FALSE AS xr,
        CAST(6 AS BIGINT) AS n"""),

    // Registry sweep #9 aggregate lanes: the moment-algebra skew/kurt
    // pairs, boundingRatio, simpleLinearRegression via regr_*,
    // retention, uniqUpTo's n+1 cap, sumCount, groupBit*, the
    // RespectNulls spellings, median engine aliases, groupConcat,
    // groupArraySorted — every value restated by the oracle in plain
    // SQL over the same rows.
    Q.ch("q_fn_tail9b", """
      SELECT
        CAST(skewPop(x) AS DOUBLE) AS sp,
        CAST(round(kurtPop(x), 6) AS DOUBLE) AS kp,
        CAST(boundingRatio(x, 3 * x + 1) AS DOUBLE) AS br,
        CAST(round(simpleLinearRegression(x, 3 * x + 1).k, 6) AS DOUBLE)
          AS lr_k,
        arrayStringConcat(retention(x >= 1, x >= 2, x >= 100), ',') AS ret,
        CAST(uniqUpTo(4)(x) AS BIGINT) AS uu,
        CAST(sumCount(x).sum AS BIGINT) AS sc_sum,
        CAST(sumCount(x).count AS BIGINT) AS sc_cnt,
        CAST(groupBitAnd(x) AS BIGINT) AS ba,
        CAST(groupBitOr(x) AS BIGINT) AS bo,
        CAST(groupBitXor(x) AS BIGINT) AS bx,
        CAST(medianExact(x) AS DOUBLE) AS me,
        CAST(medianExactLow(x) AS DOUBLE) AS mel,
        anyRespectNulls(nullif(x, x)) IS NULL AS arn,
        CAST(length(groupConcat('-')(CAST(x AS STRING))) AS BIGINT) AS gc_len,
        arrayStringConcat(groupArraySorted(3)(x), ',') AS gs
      FROM (SELECT CAST(n_nationkey AS BIGINT) + 1 AS x FROM nation)""",
      """
      SELECT
        CAST((SUM(POWER(x - ax, 3)) / COUNT(*))
          / POWER(SUM(POWER(x - ax, 2)) / COUNT(*), 1.5) AS DOUBLE) AS sp,
        CAST(ROUND((SUM(POWER(x - ax, 4)) / COUNT(*))
          / POWER(SUM(POWER(x - ax, 2)) / COUNT(*), 2), 6) AS DOUBLE) AS kp,
        CAST(3 AS DOUBLE) AS br,
        CAST(3.0 AS DOUBLE) AS lr_k,
        '1,1,0' AS ret,
        CAST(5 AS BIGINT) AS uu,
        CAST(SUM(x) AS BIGINT) AS sc_sum,
        CAST(COUNT(*) AS BIGINT) AS sc_cnt,
        CAST(BIT_AND(x) AS BIGINT) AS ba,
        CAST(BIT_OR(x) AS BIGINT) AS bo,
        CAST(BIT_XOR(x) AS BIGINT) AS bx,
        CAST(QUANTILE_CONT(x, 0.5) AS DOUBLE) AS me,
        CAST(QUANTILE_DISC(x, 0.5) AS DOUBLE) AS mel,
        TRUE AS arn,
        CAST(SUM(LENGTH(CAST(x AS VARCHAR))) + COUNT(*) - 1 AS BIGINT)
          AS gc_len,
        '1,2,3' AS gs
      FROM (SELECT CAST(n_nationkey AS BIGINT) + 1 AS x,
              AVG(CAST(n_nationkey AS BIGINT) + 1) OVER () AS ax
            FROM nation)"""),

    // Real quantile sketch engines: merging t-digest (δ=100; estimate
    // must land inside the exact q±0.05 rank band) and DDSketch (the
    // crisper contract: RELATIVE error <= alpha on positive values —
    // asserted at alpha=0.01 against the exact quantile). GK needs no
    // battery of its own: Spark's approx_percentile IS Greenwald-Khanna.
    Q.ch("q_fn_quantile_engines", """
      SELECT l_returnflag,
        (quantileTDigest(0.5)(l_extendedprice)
           BETWEEN quantileExact(0.45)(l_extendedprice)
               AND quantileExact(0.55)(l_extendedprice)) AS td_median_band,
        (quantileTDigest(0.95)(l_extendedprice)
           BETWEEN quantileExact(0.90)(l_extendedprice)
               AND quantileExact(0.99)(l_extendedprice)) AS td_tail_band,
        (abs(quantileDD(0.01, 0.5)(l_extendedprice)
             - quantileExact(0.5)(l_extendedprice))
           <= 0.011 * quantileExact(0.5)(l_extendedprice)) AS dd_rel_err,
        (abs(quantileDD(0.01, 0.9)(l_extendedprice)
             - quantileExact(0.9)(l_extendedprice))
           <= 0.011 * quantileExact(0.9)(l_extendedprice)) AS dd_rel_err_p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      """
      SELECT l_returnflag,
        TRUE AS td_median_band, TRUE AS td_tail_band,
        TRUE AS dd_rel_err, TRUE AS dd_rel_err_p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // quantileTiming: the reference's fixed-histogram engine is EXACT for
    // values < 1024 (one bin per integer), so on l_quantity (1..50) the
    // oracle is the exact order statistic at floor(n*level) — rank
    // convention and all, not a tolerance band.
    Q.ch("q_fn_quantile_timing", """
      SELECT l_returnflag,
        quantileTiming(0.5)(l_quantity) AS p50,
        quantileTiming(0.9)(l_quantity) AS p90,
        quantileTiming(0.99)(l_quantity) AS p99,
        quantileTiming(1.0)(l_quantity) AS p100
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      """
      WITH s AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag
            ORDER BY CAST(l_quantity AS BIGINT)) AS rn,
          COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag,
        CAST(MAX(CASE WHEN rn = CAST(FLOOR(n * 0.5) AS BIGINT) + 1 THEN v END) AS INT) AS p50,
        CAST(MAX(CASE WHEN rn = CAST(FLOOR(n * 0.9) AS BIGINT) + 1 THEN v END) AS INT) AS p90,
        CAST(MAX(CASE WHEN rn = CAST(FLOOR(n * 0.99) AS BIGINT) + 1 THEN v END) AS INT) AS p99,
        CAST(MAX(CASE WHEN rn = n THEN v END) AS INT) AS p100
      FROM s GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // uniqTheta as a REAL KMV theta estimator (functions/ThetaSketch):
    // exact below the k=1024 nominal entries (1 distinct per group),
    // within the ~3.1% RSE above them (l_partkey distincts > k at every
    // sf) — the round-3 error-bound oracle recipe, now over a genuine
    // second sketch implementation rather than an HLL alias.
    Q.ch("q_fn_uniq_theta", """
      SELECT l_returnflag,
        CAST(uniqExact(l_partkey) AS BIGINT) AS exact_u,
        uniqTheta(l_returnflag) = 1 AS exact_below_k,
        abs(uniqTheta(l_partkey) - uniqExact(l_partkey))
          <= 0.05 * uniqExact(l_partkey) AS theta_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      """
      SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_u,
        TRUE AS exact_below_k,
        TRUE AS theta_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Aggregate tail over 5-nation region groups: singleValueOrNull
    // (value when one distinct, NULL once a second appears), the pairwise
    // corr/covar matrices, moving prefix sums and groupArrayLast over
    // ORDER-INDEPENDENT constructions (constant collect values), sample
    // cardinality, uniqCombined64 at exact-range cardinality.
    Q.ch("q_fn_tail3_aggs", """
      SELECT n_regionkey AS k,
        singleValueOrNull(n_regionkey * 10) AS sv_single,
        singleValueOrNull(n_name) AS sv_multi,
        arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
          element_at(corrMatrix(n_nationkey, n_nationkey * 2), 1)), ',') AS corr_row,
        CAST(round(element_at(element_at(covarPopMatrix(n_nationkey, n_nationkey), 1), 1), 6) AS DOUBLE) AS cv00,
        arrayStringConcat(arrayMap(x -> toString(x),
          groupArrayMovingSum(1)), ',') AS msum,
        arrayStringConcat(arrayMap(x -> toString(x),
          groupArrayMovingAvg(1)), ',') AS mavg,
        arrayStringConcat(arrayMap(x -> toString(x),
          groupArrayLast(1)(n_regionkey)), ',') AS last1,
        CAST(size(groupArraySample(2)(n_name)) AS INT) AS sample_n,
        CAST(uniqCombined64(n_name) AS BIGINT) AS uc64
      FROM nation GROUP BY n_regionkey ORDER BY k""",
      """
      SELECT n_regionkey AS k,
        CAST(MIN(n_regionkey) * 10 AS INT) AS sv_single,
        CAST(NULL AS VARCHAR) AS sv_multi,
        '1.0,1.0' AS corr_row,
        CAST(ROUND(VAR_POP(n_nationkey), 6) AS DOUBLE) AS cv00,
        '1.0,2.0,3.0,4.0,5.0' AS msum,
        '1.0,1.0,1.0,1.0,1.0' AS mavg,
        CAST(n_regionkey AS VARCHAR) AS last1,
        2 AS sample_n,
        CAST(5 AS BIGINT) AS uc64
      FROM nation GROUP BY n_regionkey ORDER BY k"""),

    // -SimpleState aliases (carrier = plain value), exact median, and the
    // plural discrete-quantile forms (low = lower order statistic,
    // high = upper, rendered in DuckDB via the negated-lower identity).
    Q.ch("q_fn_tail3_aggs2", """
      SELECT
        CAST(minSimpleState(l_quantity) AS DOUBLE) AS mn,
        CAST(maxSimpleState(l_quantity) AS DOUBLE) AS mx,
        CAST(sumSimpleState(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sm,
        CAST(medianExact(l_linenumber) AS DOUBLE) AS med,
        arrayStringConcat(arrayMap(x -> toString(x),
          quantilesExactLow(0.25, 0.75)(l_linenumber)), ',') AS qlo,
        arrayStringConcat(arrayMap(x -> toString(x),
          quantilesExactHigh(0.25, 0.75)(l_linenumber)), ',') AS qhi
      FROM lineitem""",
      """
      SELECT
        CAST(MIN(l_quantity) AS DOUBLE) AS mn,
        CAST(MAX(l_quantity) AS DOUBLE) AS mx,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sm,
        CAST(MEDIAN(l_linenumber) AS DOUBLE) AS med,
        CAST(CAST(QUANTILE_DISC(l_linenumber, 0.25) AS DOUBLE) AS VARCHAR) || ',' ||
          CAST(CAST(QUANTILE_DISC(l_linenumber, 0.75) AS DOUBLE) AS VARCHAR) AS qlo,
        CAST(CAST(-QUANTILE_DISC(-l_linenumber, 0.75) AS DOUBLE) AS VARCHAR) || ',' ||
          CAST(CAST(-QUANTILE_DISC(-l_linenumber, 0.25) AS DOUBLE) AS VARCHAR) AS qhi
      FROM lineitem"""),

    // Round-12 sweep #10 aggregate tail — names the reproducible
    // extraction (scripts/extract_fn_names.py) surfaced beyond the old
    // hand-built list: the weighted/plural quantile-engine matrix, the
    // groupArrayArray/array_concat_agg combinator aliases, the Nothing
    // placeholder family, and the Dynamic/JSON introspection
    // aggregates. Every value restated by DuckDB as a literal.
    Q.ch("q_fn_tail10", """
      SELECT
        CAST(quantileTimingWeighted(0.5)(v, w) AS DOUBLE) AS qtw,
        arrayStringConcat(arrayMap(x -> toString(round(x, 1)),
          quantilesExactWeighted(0.25, 0.75)(v, w)), ',') AS qsw,
        arrayStringConcat(arrayMap(x -> toString(round(x, 1)),
          quantilesExactInclusive(0.5)(v)), ',') AS qsei,
        arrayStringConcat(arrayMap(x -> toString(round(x, 1)),
          quantilesGK(100, 0.0, 1.0)(v)), ',') AS qgk,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(array_concat_agg(arr))), ',') AS aca,
        CAST(nothing(v) AS STRING) AS noth,
        CAST(nothingNull(v) AS STRING) AS nothn,
        CAST(nothingUInt64(v) AS BIGINT) AS noth64,
        arrayStringConcat(distinctJSONPaths(js), ',') AS djp,
        arrayStringConcat(distinctJSONPathsAndTypes(js)['a'], ',') AS djpt_a,
        arrayStringConcat(distinctDynamicTypes(
          parse_json(toString(w))), ',') AS ddt,
        length(getOSKernelVersion()) > 4 AS oskv,
        initialQueryStartTime() >= toDateTime('2020-01-01 00:00:00') AS iqst,
        hasColumnInTable('default', 'nation', 'n_name') AS hct,
        hasColumnInTable('default', 'nation', 'no_such_col') AS hct0,
        CAST(getMaxTableNameLengthForDatabase('default') AS BIGINT) AS mtnl,
        CAST(estimateCompressionRatio('NONE')(rep) AS DOUBLE) AS ecr_none,
        estimateCompressionRatio('LZ4')(rep) > 5.0 AS ecr_lz4,
        estimateCompressionRatio('ZSTD(3)')(rep) > 5.0 AS ecr_zstd
      FROM (VALUES
        (CAST(1.0 AS DOUBLE), 1, array(1, 2), '{"a": 1, "b": {"x": "u"}}',
          repeat('abcdef', 200)),
        (CAST(3.0 AS DOUBLE), 3, array(3), '{"a": "s"}',
          repeat('abcdef', 200))) AS t(v, w, arr, js, rep)""",
      """
      SELECT
        CAST(3.0 AS DOUBLE) AS qtw,
        '2.5,3.0' AS qsw,
        '2.0' AS qsei,
        '1.0,3.0' AS qgk,
        '1,2,3' AS aca,
        CAST(NULL AS VARCHAR) AS noth,
        CAST(NULL AS VARCHAR) AS nothn,
        CAST(0 AS BIGINT) AS noth64,
        'a,b.x' AS djp,
        'Int64,String' AS djpt_a,
        'BIGINT' AS ddt,
        TRUE AS oskv,
        TRUE AS iqst,
        TRUE AS hct,
        FALSE AS hct0,
        CAST(206 AS BIGINT) AS mtnl,
        CAST(1.0 AS DOUBLE) AS ecr_none,
        TRUE AS ecr_lz4,
        TRUE AS ecr_zstd"""),

    // ==== Bitmaps and sketch states (sql/ChBitmapSketch) ====

    // Scalar bitmap algebra readouts (FunctionsBitmap.h). The Roaring64
    // payload is opaque; cardinalities, sorted member arrays, membership
    // and subset ops are exact and oracle-stated as list arithmetic.
    Q.ch("q_fn_bitmap_scalar", """
      SELECT
        CAST(bitmapCardinality(bitmapBuild(array(1,2,3,4,5))) AS BIGINT) AS card,
        CAST(bitmapAndCardinality(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5))) AS BIGINT) AS and_card,
        CAST(bitmapOrCardinality(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5))) AS BIGINT) AS or_card,
        CAST(bitmapXorCardinality(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5))) AS BIGINT) AS xor_card,
        CAST(bitmapAndnotCardinality(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5))) AS BIGINT) AS andnot_card,
        arrayStringConcat(bitmapToArray(bitmapAnd(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5)))), ',') AS and_arr,
        arrayStringConcat(bitmapToArray(bitmapXor(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3,5)))), ',') AS xor_arr,
        bitmapContains(bitmapBuild(array(1,2,3)), 2) AS has2,
        bitmapContains(bitmapBuild(array(1,2,3)), 9) AS has9,
        CAST(bitmapMin(bitmapBuild(array(7,3,9))) AS BIGINT) AS mn,
        CAST(bitmapMax(bitmapBuild(array(7,3,9))) AS BIGINT) AS mx,
        bitmapHasAny(bitmapBuild(array(1,2)), bitmapBuild(array(2,9))) AS hasany,
        bitmapHasAny(bitmapBuild(array(1,2)), bitmapBuild(array(8,9))) AS nothasany,
        bitmapHasAll(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,3))) AS hasall,
        bitmapHasAll(bitmapBuild(array(1,2,3)), bitmapBuild(array(2,4))) AS nothasall,
        arrayStringConcat(bitmapToArray(bitmapSubsetInRange(bitmapBuild(array(1,5,9,12)), 5, 12)), ',') AS subset_rng,
        arrayStringConcat(bitmapToArray(bitmapSubsetLimit(bitmapBuild(array(1,5,9,12)), 5, 2)), ',') AS subset_lim,
        arrayStringConcat(bitmapToArray(subBitmap(bitmapBuild(array(1,5,9,12)), 1, 2)), ',') AS sub_pos""",
      """
      SELECT
        CAST(5 AS BIGINT) AS card,
        CAST(2 AS BIGINT) AS and_card,
        CAST(4 AS BIGINT) AS or_card,
        CAST(2 AS BIGINT) AS xor_card,
        CAST(1 AS BIGINT) AS andnot_card,
        '2,3' AS and_arr,
        '1,5' AS xor_arr,
        TRUE AS has2,
        FALSE AS has9,
        CAST(3 AS BIGINT) AS mn,
        CAST(9 AS BIGINT) AS mx,
        TRUE AS hasany,
        FALSE AS nothasany,
        TRUE AS hasall,
        FALSE AS nothasall,
        '5,9' AS subset_rng,
        '5,9' AS subset_lim,
        '5,9' AS sub_pos"""),

    // ==== URL, IP and geo (sql/ChUrlIpGeo) ====

    // URL family (src/Functions/URL/): domain/path/queryString via
    // regexp over synthesized URLs — identical regexes both engines.
    Q.sparkSql("q_fn_url", """
      SELECT event_id,
        REGEXP_EXTRACT(url, 'https?://([^/]+)', 1) AS domain,
        REGEXP_EXTRACT(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
        REGEXP_EXTRACT(url, '\\?(.*)$', 1) AS query_string
      FROM (SELECT event_id,
              CONCAT('https://example.com/t/', event_type, '?u=', CAST(user_id AS STRING)) AS url
            FROM events) t
      ORDER BY event_id
      LIMIT 2000""",
      """
      SELECT event_id,
        REGEXP_EXTRACT(url, 'https?://([^/]+)', 1) AS domain,
        REGEXP_EXTRACT(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
        REGEXP_EXTRACT(url, '\?(.*)$', 1) AS query_string
      FROM (SELECT event_id,
              CONCAT('https://example.com/t/', event_type, '?u=', CAST(user_id AS STRING)) AS url
            FROM events) t
      ORDER BY event_id
      LIMIT 2000"""),

    // greatCircleDistance (src/Functions/greatCircleDistance.cpp):
    // haversine over deterministic synthetic coordinates.
    Q.shared("q_fn_geo_distance", """
      SELECT event_id,
        ROUND(2.0 * 6371.0088 * ASIN(SQRT(
          POW(SIN(RADIANS(lat2 - lat1) / 2.0), 2)
          + COS(RADIANS(lat1)) * COS(RADIANS(lat2))
            * POW(SIN(RADIANS(lon2 - lon1) / 2.0), 2))), 3) AS km
      FROM (SELECT event_id,
              CAST(user_id % 90 AS DOUBLE) AS lat1,
              CAST(event_id % 180 - 90 AS DOUBLE) AS lon1,
              CAST((user_id * 7) % 90 AS DOUBLE) AS lat2,
              CAST((event_id * 3) % 180 - 90 AS DOUBLE) AS lon2
            FROM events) c
      ORDER BY event_id
      LIMIT 2000"""),

    // IPv4NumToString (src/Functions/FunctionsCodingIP.cpp).
    Q.sparkSql("q_fn_ipv4", """
      SELECT event_id,
        CONCAT(CAST(SHIFTRIGHT(ip, 24) & 255 AS STRING), '.',
               CAST(SHIFTRIGHT(ip, 16) & 255 AS STRING), '.',
               CAST(SHIFTRIGHT(ip, 8) & 255 AS STRING), '.',
               CAST(ip & 255 AS STRING)) AS ip_str
      FROM (SELECT event_id, (event_id * 16909060 + user_id) % 4294967296 AS ip
            FROM events) t
      ORDER BY event_id
      LIMIT 2000""",
      """
      SELECT event_id,
        CONCAT(CAST((ip >> 24) & 255 AS STRING), '.',
               CAST((ip >> 16) & 255 AS STRING), '.',
               CAST((ip >> 8) & 255 AS STRING), '.',
               CAST(ip & 255 AS STRING)) AS ip_str
      FROM (SELECT event_id, (event_id * 16909060 + user_id) % 4294967296 AS ip
            FROM events) t
      ORDER BY event_id
      LIMIT 2000"""),

    // geohashEncode + geohashDecode (geohashEncode.cpp/geohashDecode.cpp):
    // synthetic lon/lat from part keys; oracle recomputes the identical
    // cell/interleave arithmetic and the cell-centre decode.
    Q.df("q_fn_geohash", s"""
      WITH p AS (SELECT p_partkey,
          CAST(p_partkey % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon,
          CAST((p_partkey // 7) % 1800 AS DOUBLE) / 10.0 - 90.0 AS lat
        FROM part WHERE p_partkey <= 500),
      c AS (SELECT p_partkey,
          LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * 32768.0) AS BIGINT), 32767) AS cl,
          LEAST(CAST(FLOOR((lat + 90.0) / 180.0 * 32768.0) AS BIGINT), 32767) AS ca
        FROM p),
      v AS (SELECT p_partkey, cl, ca, ${ghValueSql("cl", "ca")} AS gv FROM c)
      SELECT p_partkey, ${ghCharsSql("gv")} AS gh,
        ROUND((CAST(cl AS DOUBLE) + 0.5) / 32768.0 * 360.0 - 180.0, 6) AS dec_lon,
        ROUND((CAST(ca AS DOUBLE) + 0.5) / 32768.0 * 180.0 - 90.0, 6) AS dec_lat
      FROM v
      ORDER BY p_partkey""") { (s, dir) =>
      val p = Tables.load(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          ((col("p_partkey") % 3600).cast("double") / 10.0 - 180.0).as("lon"),
          (((col("p_partkey") / 7).cast("long") % 1800).cast("double") / 10.0 - 90.0).as("lat"))
      p.select(col("p_partkey"),
        GeoFunctions.geohashEncode(col("lon"), col("lat"), 6).as("gh"))
        .withColumn("dec", GeoFunctions.geohashDecode(col("gh"), 6))
        .select(col("p_partkey"), col("gh"),
          round(col("dec.lon"), 6).as("dec_lon"),
          round(col("dec.lat"), 6).as("dec_lat"))
        .orderBy("p_partkey")
    },

    // pointInPolygon (pointInPolygon.cpp crossing-number): points from part
    // keys on a 10x10 plane vs a fixed pentagon.
    Q.df("q_fn_point_in_polygon", s"""
      WITH p AS (SELECT p_partkey,
          CAST(p_partkey % 100 AS DOUBLE) / 10.0 AS x,
          CAST((p_partkey // 7) % 100 AS DOUBLE) / 10.0 AS y
        FROM part WHERE p_partkey <= 500)
      SELECT p_partkey, ${pipSql("x", "y")} AS inside
      FROM p
      ORDER BY p_partkey""") { (s, dir) =>
      val p = Tables.load(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          ((col("p_partkey") % 100).cast("double") / 10.0).as("x"),
          (((col("p_partkey") / 7).cast("long") % 100).cast("double") / 10.0).as("y"))
      p.select(col("p_partkey"),
        GeoFunctions.pointInPolygon(col("x"), col("y"), poly).as("inside"))
        .orderBy("p_partkey")
    },

    // URL-part family (src/Functions/URL/) over ParseUrl + heuristics.
    Q.ch("q_fn_url_tail", """
      SELECT
        protocol(u) AS pr,
        domain(u) AS dom,
        domainWithoutWWW(u) AS dww,
        topLevelDomain(u) AS tld,
        firstSignificantSubdomain(u) AS fss,
        cutToFirstSignificantSubdomain(u) AS cfss,
        firstSignificantSubdomain('https://news.yandex.com.tr/x') AS fss2,
        cutToFirstSignificantSubdomain('https://news.yandex.com.tr/x') AS cfss2,
        path(u) AS pth,
        pathFull(u) AS pf,
        queryString(u) AS qs,
        fragment(u) AS fr,
        queryStringAndFragment(u) AS qsf,
        netloc(u) AS nl,
        CAST(port(u) AS INT) AS prt,
        cutWWW('https://www.example.com/x') AS cw,
        cutQueryString(u) AS cq,
        cutFragment(u) AS cf,
        cutQueryStringAndFragment(u) AS cqf,
        extractURLParameter(u, 'y') AS ep,
        arrayStringConcat(extractURLParameters(u), '|') AS eps,
        arrayStringConcat(extractURLParameterNames(u), '|') AS epn,
        encodeURLComponent('a b/c') AS enc,
        decodeURLComponent('a%20b%2Fc') AS dec,
        domain('example.com/bare') AS dbare
      FROM (SELECT 'https://user:pw@www.example.com:8080/a/b.html?x=1&y=2#frag' AS u)""",
      """
      SELECT 'https' AS pr, 'www.example.com' AS dom, 'example.com' AS dww,
        'com' AS tld, 'example' AS fss, 'example.com' AS cfss,
        'yandex' AS fss2, 'yandex.com.tr' AS cfss2,
        '/a/b.html' AS pth, '/a/b.html?x=1&y=2' AS pf, 'x=1&y=2' AS qs,
        'frag' AS fr, 'x=1&y=2#frag' AS qsf,
        'user:pw@www.example.com:8080' AS nl, 8080 AS prt,
        'https://example.com/x' AS cw,
        'https://user:pw@www.example.com:8080/a/b.html#frag' AS cq,
        'https://user:pw@www.example.com:8080/a/b.html?x=1&y=2' AS cf,
        'https://user:pw@www.example.com:8080/a/b.html' AS cqf,
        '2' AS ep, 'x=1|y=2' AS eps, 'x|y' AS epn,
        'a%20b%2Fc' AS enc, 'a b/c' AS dec, 'example.com' AS dbare"""),

    // Misc wave: MAC/IPv4 codecs, XML/HTML codecs, cutURLParameter.
    Q.ch("q_fn_misc_codec", """
      SELECT
        MACNumToString(1108152157446) AS mac,
        CAST(MACStringToNum('01:02:03:04:05:06') AS BIGINT) AS macn,
        CAST(MACStringToOUI('01:02:03:04:05:06') AS BIGINT) AS oui,
        IPv4NumToString(3232235777) AS i4s,
        CAST(IPv4StringToNum('192.168.1.1') AS BIGINT) AS i4n,
        IPv4NumToStringClassC(3232235777) AS i4c,
        IPv4ToIPv6(3232235777) AS i46,
        CAST(INET_ATON('10.0.0.1') AS BIGINT) AS ia,
        INET_NTOA(167772161) AS intoa,
        isIPv4String('192.168.1.1') AS isv4,
        isIPv4String('999.1.1.1') AS isv4b,
        isIPv6String('2001:db8::1') AS isv6,
        isIPv6String('hello') AS isv6b,
        encodeXMLComponent('a<b&c') AS xml,
        decodeXMLComponent('a&lt;b&amp;c') AS xmld,
        extractTextFromHTML('<p>Hello <b>world</b></p><script>x=1</script>') AS html,
        cutURLParameter('http://x.com/?a=1&b=2&c=3', 'b') AS cup,
        cutURLParameter('http://x.com/?a=1', 'a') AS cup2""",
      """
      SELECT '01:02:03:04:05:06' AS mac, CAST(1108152157446 AS BIGINT) AS macn,
        CAST(66051 AS BIGINT) AS oui, '192.168.1.1' AS i4s,
        CAST(3232235777 AS BIGINT) AS i4n, '192.168.1.xxx' AS i4c,
        '::ffff:192.168.1.1' AS i46, CAST(167772161 AS BIGINT) AS ia,
        '10.0.0.1' AS intoa, true AS isv4, false AS isv4b, true AS isv6,
        false AS isv6b, 'a&lt;b&amp;c' AS xml, 'a<b&c' AS xmld,
        'Hello world' AS html, 'http://x.com/?a=1&c=3' AS cup,
        'http://x.com/' AS cup2"""),

    // Round-5 sweep wave 3: printf, subsequence search, UTF8 affix tests,
    // parseReadableSize matrix (ceil semantics), exact intHash32/64
    // (expected values computed from Hash.h with the FunctionsHashing.h
    // salts; u64 rendered as string per the engine convention),
    // CIDR membership/range, factorial, proportionsZTest (ztest.cpp —
    // expected tuple equals the reference docs example, rounded 6dp).
    Q.ch("q_fn_misc_tail2", """
      SELECT
        printf('%s has %d items, pi=%.2f', 'cart', 3,
          CAST(3.14159 AS DOUBLE)) AS pf,
        CAST(hasSubsequence('garbage', 'arg') AS INT) AS hs1,
        CAST(hasSubsequence('garbage', 'gag') AS INT) AS hs2,
        CAST(hasSubsequence('abc', 'acb') AS INT) AS hs3,
        CAST(hasSubsequenceCaseInsensitive('Garbage', 'ARG') AS INT) AS hsci,
        CAST(startsWithUTF8('привет', 'при') AS INT) AS sw,
        CAST(endsWithUTF8('hello', 'llo') AS INT) AS ew,
        CAST(parseReadableSize('1 KiB') AS BIGINT) AS prs1,
        CAST(parseReadableSize('5.314 KiB') AS BIGINT) AS prs2,
        CAST(parseReadableSize('3 MB') AS BIGINT) AS prs3,
        CAST(parseReadableSizeOrNull('bad') AS BIGINT) AS prsn,
        CAST(parseReadableSizeOrZero('bad') AS BIGINT) AS prsz,
        CAST(intHash32(0) AS BIGINT) AS ih32a,
        CAST(intHash32(42) AS BIGINT) AS ih32b,
        toString(intHash64(0)) AS ih64a,
        toString(intHash64(42)) AS ih64b,
        CAST(isIPAddressInRange('127.0.0.1', '127.0.0.0/8') AS INT) AS ipr1,
        CAST(isIPAddressInRange('128.0.0.1', '127.0.0.0/8') AS INT) AS ipr2,
        CAST(isIPAddressInRange('192.168.5.3', '192.168.5.0/24') AS INT) AS ipr3,
        tupleElement(IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16), 1) AS cidrlo,
        tupleElement(IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16), 2) AS cidrhi,
        CAST(factorial(10) AS BIGINT) AS fac10,
        CAST(factorial(0) AS BIGINT) AS fac0,
        CAST(factorial(20) AS BIGINT) AS fac20,
        round(tupleElement(proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled'), 1), 6) AS zt_z,
        round(tupleElement(proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled'), 2), 6) AS zt_p,
        round(tupleElement(proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled'), 3), 6) AS zt_lo,
        round(tupleElement(proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled'), 4), 6) AS zt_hi,
        round(tupleElement(proportionsZTest(10, 11, 100, 101, 0.95, 'pooled'), 1), 6) AS ztp_z""",
      """
      SELECT 'cart has 3 items, pi=3.14' AS pf,
        1 AS hs1, 1 AS hs2, 0 AS hs3, 1 AS hsci, 1 AS sw, 1 AS ew,
        CAST(1024 AS BIGINT) AS prs1, CAST(5442 AS BIGINT) AS prs2,
        CAST(3000000 AS BIGINT) AS prs3, CAST(NULL AS BIGINT) AS prsn,
        CAST(0 AS BIGINT) AS prsz,
        CAST(4249604106 AS BIGINT) AS ih32a,
        CAST(1228623923 AS BIGINT) AS ih32b,
        '4761183170873013810' AS ih64a,
        '11490350930367293593' AS ih64b,
        1 AS ipr1, 0 AS ipr2, 1 AS ipr3,
        '192.168.0.0' AS cidrlo, '192.168.255.255' AS cidrhi,
        CAST(3628800 AS BIGINT) AS fac10, CAST(1 AS BIGINT) AS fac0,
        CAST(2432902008176640000 AS BIGINT) AS fac20,
        CAST(-0.206567 AS DOUBLE) AS zt_z, CAST(0.836348 AS DOUBLE) AS zt_p,
        CAST(-0.09346 AS DOUBLE) AS zt_lo, CAST(0.075638 AS DOUBLE) AS zt_hi,
        CAST(-0.206507 AS DOUBLE) AS ztp_z"""),

    // Round-12 sweep #10: the custom-TLD subdomain family over a
    // SESSION-REGISTERED public-suffix list (TLDListsHolder::getTldList
    // — here a named collection, the analog of the config-named list
    // files), exercising REGULAR entries, `*.` wildcards, `!`
    // exceptions, the second-level fallback, the WithWWW twin, and
    // portRFC — every expected value computable by hand from the list,
    // plus a corpus-wide lane whose per-branch outputs the oracle
    // restates through the same CASE.
    Q("q_fn_custom_tld", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s,
        "DROP NAMED COLLECTION IF EXISTS public_suffix_demo")
      ClickHouseSql.sql(s, "CREATE NAMED COLLECTION public_suffix_demo " +
        "AS lines = 'com.tr,co.uk,*.kawasaki.jp,!city.kawasaki.jp,dev.example'")
      ClickHouseSql.sql(s, """
        SELECT
          cutToFirstSignificantSubdomainCustom(
            'https://news.yandex.com.tr/x', 'public_suffix_demo') AS cut_reg,
          firstSignificantSubdomainCustom(
            'https://news.yandex.com.tr/x', 'public_suffix_demo') AS fss_reg,
          cutToFirstSignificantSubdomainCustomWithWWW(
            'https://www.dev.example/p', 'public_suffix_demo') AS cut_www,
          cutToFirstSignificantSubdomainCustom(
            'https://www.dev.example/p', 'public_suffix_demo') AS cut_nowww,
          cutToFirstSignificantSubdomainCustom(
            'https://a.b.kawasaki.jp', 'public_suffix_demo') AS cut_any,
          cutToFirstSignificantSubdomainCustom(
            'https://x.city.kawasaki.jp', 'public_suffix_demo') AS cut_exc,
          cutToFirstSignificantSubdomainCustomRFC(
            'https://a.b.example.com/p', 'public_suffix_demo') AS cut_fb,
          firstSignificantSubdomainCustomRFC(
            'https://a.b.example.com/p', 'public_suffix_demo') AS fss_fb,
          CAST(portRFC('https://h.example.com:8443/p') AS BIGINT) AS prfc,
          CAST(portRFC('https://h.example.com/p') AS BIGINT) AS prfc0,
          agg.c_ok, agg.n
        FROM (
          SELECT sum(CASE WHEN (m = 0 AND cut = 'yandex.com.tr')
                         OR (m = 1 AND cut = 'a.b.kawasaki.jp')
                         OR (m = 2 AND cut = 'example.com')
                     THEN 1 ELSE 0 END) AS c_ok,
                 count() AS n
          FROM (
            SELECT doc_id % 3 AS m,
              cutToFirstSignificantSubdomainCustom(concat('https://',
                CASE WHEN doc_id % 3 = 0 THEN 'news.yandex.com.tr'
                     WHEN doc_id % 3 = 1 THEN 'a.b.kawasaki.jp'
                     ELSE 'www.blog.example.com' END,
                '/', toString(doc_id)), 'public_suffix_demo') AS cut
            FROM documents)) AS agg""")
    }, Some("""
      SELECT
        'yandex.com.tr' AS cut_reg,
        'yandex' AS fss_reg,
        'www.dev.example' AS cut_www,
        'dev.example' AS cut_nowww,
        'a.b.kawasaki.jp' AS cut_any,
        'city.kawasaki.jp' AS cut_exc,
        'example.com' AS cut_fb,
        'example' AS fss_fb,
        CAST(8443 AS BIGINT) AS prfc,
        CAST(0 AS BIGINT) AS prfc0,
        (SELECT count(*) FROM documents) AS c_ok,
        (SELECT count(*) FROM documents) AS n""")),

    // Round-12: the embedded-geobase region family over a SESSION-
    // REGISTERED hierarchy (FunctionsEmbeddedDictionaries.h over
    // RegionsHierarchy.h walk semantics — the reference loads
    // user-supplied regions_hierarchy/regions_names files; the analog
    // registers the same file contents per session). Every value
    // computable by hand from the 6-region fixture; a corpus-wide lane
    // pins the distributed path.
    Q("q_fn_geobase", (s, dir) => {
      Tables.register(s, dir)
      graft.functions.GeoBases.register("regions_hierarchy", Seq(
        "10001\t0\t1", "10002\t10001\t1", "225\t10002\t3\t146000000",
        "3\t225\t5", "1\t3\t6\t12000000", "213\t1\t4",
        "-5\t0\t3")) // negative id = garbage row (HierarchyFormatReader)
      graft.functions.GeoBases.register("regions_names_ru",
        Seq("1\tMoskva", "225\tRossiya"))
      graft.functions.GeoBases.register("regions_names_en",
        Seq("1\tMoscow", "225\tRussia"))
      ClickHouseSql.sql(s, """
        SELECT
          CAST(regionToCity(213) AS BIGINT) AS city,
          CAST(regionToDistrict(213) AS BIGINT) AS district,
          CAST(regionToArea(213) AS BIGINT) AS area,
          CAST(regionToCountry(213) AS BIGINT) AS country,
          CAST(regionToContinent(213) AS BIGINT) AS continent,
          CAST(regionToTopContinent(213) AS BIGINT) AS topcont,
          CAST(regionToPopulation(225) AS BIGINT) AS pop,
          regionIn(213, 225) AS in_up,
          regionIn(225, 213) AS in_down,
          arrayStringConcat(arrayMap(x -> toString(x),
            regionHierarchy(1)), ',') AS hier,
          regionToName(1, 'en') AS name_en,
          regionToName(1) AS name_ru,
          regionToName(1, 'xx') AS name_fallback,
          regionToName(999) AS name_missing,
          agg.ok, agg.n
        FROM (
          SELECT sum(CASE WHEN regionToCountry(
                   CASE WHEN n_nationkey % 2 = 0 THEN 213 ELSE 1 END) = 225
                 THEN 1 ELSE 0 END) AS ok,
                 count() AS n
          FROM nation) AS agg""")
    }, Some("""
      SELECT
        CAST(1 AS BIGINT) AS city,
        CAST(213 AS BIGINT) AS district,
        CAST(3 AS BIGINT) AS area,
        CAST(225 AS BIGINT) AS country,
        CAST(10002 AS BIGINT) AS continent,
        CAST(10001 AS BIGINT) AS topcont,
        CAST(146000000 AS BIGINT) AS pop,
        TRUE AS in_up,
        FALSE AS in_down,
        '1,3,225,10002,10001' AS hier,
        'Moscow' AS name_en,
        'Moskva' AS name_ru,
        'Moskva' AS name_fallback,
        '' AS name_missing,
        (SELECT count(*) FROM nation) AS ok,
        (SELECT count(*) FROM nation) AS n""")),

    // ==== Introspection (sql/ChIntrospection) ====

    Q.ch("q_fn_tail3_misc", """
      SELECT
        CAST(toTimezone(toDateTime('2024-03-01 12:00:00'), 'UTC') AS STRING) AS tz_identity,
        timezone() AS tz,
        timezoneOf(now()) AS tz_of,
        CAST(dateAdd(day, 3, toDateTime('2024-03-01 00:00:00')) AS DATE) AS d_add,
        CAST(dateSub('month', 2, toDateTime('2024-03-31 00:00:00')) AS DATE) AS d_sub,
        CAST(timestampAdd(hour, 5, toDateTime('2024-03-01 01:00:00')) AS STRING) AS ts_add,
        CAST(timestampSub('minute', 90, toDateTime('2024-03-01 02:00:00')) AS STRING) AS ts_sub,
        CAST(toStartOfNanosecond(toDateTime('2024-03-01 01:02:03')) AS STRING) AS ns_identity,
        nowInBlock() >= toDateTime('2026-01-01 00:00:00') AS now_sane,
        isConstant(1 + 2) AS const_yes,
        isConstant(c_custkey) AS const_no,
        defaultValueOfTypeName('UInt64') AS dv_int,
        defaultValueOfTypeName('String') AS dv_str,
        defaultValueOfTypeName('Float64') AS dv_f,
        length(hostName()) > 0 AS host_sane,
        blockNumber() >= 0 AS blk_sane,
        rowNumberInBlock() >= 0 AS rownum_sane,
        rowNumberInAllBlocks() >= 0 AS rownum_all_sane
      FROM customer WHERE c_custkey = 1""",
      """
      SELECT
        '2024-03-01 12:00:00' AS tz_identity,
        'UTC' AS tz, 'UTC' AS tz_of,
        CAST('2024-03-04' AS DATE) AS d_add,
        CAST('2024-01-31' AS DATE) AS d_sub,
        '2024-03-01 06:00:00' AS ts_add,
        '2024-03-01 00:30:00' AS ts_sub,
        '2024-03-01 01:02:03' AS ns_identity,
        TRUE AS now_sane,
        1 AS const_yes, 0 AS const_no,
        CAST(0 AS BIGINT) AS dv_int, '' AS dv_str, 0.0 AS dv_f,
        TRUE AS host_sane, TRUE AS blk_sane,
        TRUE AS rownum_sane, TRUE AS rownum_all_sane"""),

    // ==== Arrays, maps and tuples (sql/ChRegistryArrays) ====

    // Array family (src/Functions/array/*): literals, element access, HOFs
    // (arrayMap/Filter/Exists → transform/filter/exists), sort, distinct,
    // flatten, slice, sequence, zip, cumulative fold.
    // Array-valued outputs are serialized via ARRAY_JOIN/ARRAY_TO_STRING so
    // every top-level column is scalar (driver harness sorts raw columns).
    Q.sparkSql("q_fn_array", """
      SELECT
        ARRAY_JOIN(TRANSFORM(ARRAY(3, 1, 2), x -> CAST(x AS STRING)), ',') AS arr,
        ELEMENT_AT(ARRAY(3, 1, 2), 2) AS second,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(ARRAY(3, 1, 2)), x -> CAST(x AS STRING)), ',') AS sorted,
        ARRAY_JOIN(TRANSFORM(SORT_ARRAY(ARRAY(3, 1, 2), FALSE), x -> CAST(x AS STRING)), ',') AS rsorted,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(ARRAY_DISTINCT(ARRAY(1, 2, 2, 3))), x -> CAST(x AS STRING)), ',') AS dist,
        ARRAY_CONTAINS(ARRAY(1, 2, 3), 2) AS has2,
        SIZE(ARRAY(1, 2, 3)) AS sz,
        ARRAY_JOIN(TRANSFORM(FLATTEN(ARRAY(ARRAY(1, 2), ARRAY(3))), x -> CAST(x AS STRING)), ',') AS flat,
        ARRAY_JOIN(TRANSFORM(SLICE(ARRAY(1, 2, 3, 4, 5), 2, 3), x -> CAST(x AS STRING)), ',') AS sliced,
        ARRAY_JOIN(TRANSFORM(SEQUENCE(1, 5), x -> CAST(x AS STRING)), ',') AS seq,
        ARRAY_JOIN(TRANSFORM(TRANSFORM(ARRAY(1, 2, 3), x -> x * 10), x -> CAST(x AS STRING)), ',') AS mapped,
        ARRAY_JOIN(TRANSFORM(FILTER(ARRAY(1, 2, 3, 4), x -> x % 2 = 0), x -> CAST(x AS STRING)), ',') AS evens,
        EXISTS(ARRAY(1, 2, 3), x -> x > 2) AS has_gt2,
        CAST(AGGREGATE(ARRAY(1, 2, 3, 4), 0, (a, x) -> a + x) AS BIGINT) AS folded,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(ARRAY_INTERSECT(ARRAY(1, 2, 3), ARRAY(2, 3, 4))), x -> CAST(x AS STRING)), ',') AS inter,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(ARRAY_UNION(ARRAY(1, 2), ARRAY(2, 3))), x -> CAST(x AS STRING)), ',') AS uni,
        CAST(ARRAY_POSITION(ARRAY(10, 20, 30), 20) AS BIGINT) AS pos20
      """,
      """
      SELECT
        ARRAY_TO_STRING([3, 1, 2], ',') AS arr,
        [3, 1, 2][2] AS second,
        ARRAY_TO_STRING(LIST_SORT([3, 1, 2]), ',') AS sorted,
        ARRAY_TO_STRING(LIST_REVERSE_SORT([3, 1, 2]), ',') AS rsorted,
        ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT([1, 2, 2, 3])), ',') AS dist,
        LIST_CONTAINS([1, 2, 3], 2) AS has2,
        LEN([1, 2, 3]) AS sz,
        ARRAY_TO_STRING(FLATTEN([[1, 2], [3]]), ',') AS flat,
        ARRAY_TO_STRING([1, 2, 3, 4, 5][2:4], ',') AS sliced,
        ARRAY_TO_STRING(GENERATE_SERIES(1, 5), ',') AS seq,
        ARRAY_TO_STRING(LIST_TRANSFORM([1, 2, 3], x -> x * 10), ',') AS mapped,
        ARRAY_TO_STRING(LIST_FILTER([1, 2, 3, 4], x -> x % 2 = 0), ',') AS evens,
        LEN(LIST_FILTER([1, 2, 3], x -> x > 2)) > 0 AS has_gt2,
        CAST(LIST_SUM([1, 2, 3, 4]) AS BIGINT) AS folded,
        ARRAY_TO_STRING(LIST_SORT(LIST_INTERSECT([1, 2, 3], [2, 3, 4])), ',') AS inter,
        ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST_CONCAT([1, 2], [2, 3]))), ',') AS uni,
        CAST(LIST_POSITION([10, 20, 30], 20) AS BIGINT) AS pos20
      """),

    // arrayJoin → explode (the one row-expanding scalar,
    // src/Functions/array/arrayJoin.cpp → Catalyst Generator).
    Q.sparkSql("q_fn_array_join", """
      SELECT p_partkey, word
      FROM part LATERAL VIEW EXPLODE(SPLIT(p_name, ' ')) AS word
      WHERE p_partkey <= 50
      ORDER BY p_partkey, word""",
      """
      SELECT p_partkey, UNNEST(STRING_SPLIT(p_name, ' ')) AS word
      FROM part
      WHERE p_partkey <= 50
      ORDER BY p_partkey, word"""),

    // Map/struct family (tuple.cpp/tupleElement.cpp/map.cpp,
    // FunctionsMapMiscellaneous.cpp).
    Q.sparkSql("q_fn_struct_map", """
      SELECT
        TO_JSON(STRUCT(1 AS a, 'x' AS b)) AS tup,
        STRUCT(1 AS a, 'x' AS b).a AS tup_elem,
        ARRAY_JOIN(ARRAY_SORT(MAP_KEYS(MAP('k1', 10, 'k2', 20))), ',') AS ks,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(MAP_VALUES(MAP('k1', 10, 'k2', 20))),
                   x -> CAST(x AS STRING)), ',') AS vs,
        ELEMENT_AT(MAP('k1', 10, 'k2', 20), 'k2') AS v2
      """,
      """
      SELECT
        CAST(TO_JSON({'a': 1, 'b': 'x'}) AS VARCHAR) AS tup,
        {'a': 1, 'b': 'x'}.a AS tup_elem,
        ARRAY_TO_STRING(LIST_SORT(MAP_KEYS(MAP(['k1','k2'], [10, 20]))), ',') AS ks,
        ARRAY_TO_STRING(LIST_SORT(MAP_VALUES(MAP(['k1','k2'], [10, 20]))), ',') AS vs,
        MAP(['k1','k2'], [10, 20])['k2'][1] AS v2
      """),

    // arrayCumSum / arrayDifference (src/Functions/array/arrayCumSum.cpp,
    // arrayDifference.cpp) — HOF compositions over a small array.
    Q.sparkSql("q_array_math", """
      SELECT
        ARRAY_JOIN(TRANSFORM(TRANSFORM(SEQUENCE(1, 6), (x, i) ->
          AGGREGATE(SLICE(SEQUENCE(1, 6), 1, i + 1), 0, (a, y) -> a + y)),
          v -> CAST(v AS STRING)), ',') AS cumsum,
        ARRAY_JOIN(TRANSFORM(TRANSFORM(SEQUENCE(1, 6), (x, i) ->
          CASE WHEN i = 0 THEN 0 ELSE x - ELEMENT_AT(SEQUENCE(1, 6), i) END),
          v -> CAST(v AS STRING)), ',') AS diff,
        AGGREGATE(SEQUENCE(1, 6), 0, (a, x) -> a + x * x) AS sum_squares""",
      """
      SELECT
        '1,3,6,10,15,21' AS cumsum,
        '0,1,1,1,1,1' AS diff,
        CAST(91 AS INT) AS sum_squares""")
  ,

    // Lambda-first higher-order family (arrayMap/Filter/Exists/All/Count/
    // Sum/Avg/Product/Fold/First/Last/Index — src/Functions/array/).
    Q.ch("q_fn_array_hof", """
      SELECT id,
        arrayStringConcat(arrayMap(x -> toString(x * 2), xs), ',') AS m,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayFilter(x -> x % 2 = 0, xs)), ',') AS f,
        arrayExists(x -> x > 2, xs) AS ex,
        arrayAll(x -> x > 0, xs) AS al,
        CAST(arrayCount(x -> x % 2 = 1, xs) AS INT) AS c,
        CAST(arraySum(xs) AS INT) AS s,
        CAST(arraySum(x -> x * x, xs) AS INT) AS sq,
        CAST(arrayAvg(xs) AS DOUBLE) AS av,
        CAST(arrayProduct(xs) AS DOUBLE) AS p,
        CAST(arrayFold((acc, x) -> acc + x, xs, 100) AS INT) AS fl,
        CAST(arrayFirst(x -> x > 1, xs) AS INT) AS fi,
        CAST(arrayLast(x -> x > 1, xs) AS INT) AS la,
        CAST(arrayFirstIndex(x -> x > 1, xs) AS BIGINT) AS fidx,
        CAST(arrayLastIndex(x -> x > 1, xs) AS BIGINT) AS lidx
      FROM VALUES (1, array(1, 2, 3)), (2, array(4, 0, 5)) AS t(id, xs)
      ORDER BY id""",
      """
      SELECT * FROM (VALUES
        (1, '2,4,6', '2', true, true, 2, 6, 14,
         CAST(2.0 AS DOUBLE), CAST(6.0 AS DOUBLE), 106, 2, 3,
         CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        (2, '8,0,10', '4,0', true, false, 1, 9, 41,
         CAST(3.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 109, 4, 5,
         CAST(1 AS BIGINT), CAST(3 AS BIGINT))
      ) AS t(id, m, f, ex, al, c, s, sq, av, p, fl, fi, la, fidx, lidx)
      ORDER BY id"""),

    // Structural transforms (cumSum, difference, compact, enumerate
    // family, rotate/shift, shingles, withConstant, fill, split).
    Q.ch("q_fn_array_struct", """
      SELECT
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayCumSum(array(1, 2, 3))), ',') AS cs,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayCumSumNonNegative(array(1, -5, 3))), ',') AS csn,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayDifference(array(1, 4, 9))), ',') AS d,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayCompact(array(1, 1, 2, 2, 3))), ',') AS cp,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayEnumerate(array(9, 9, 9))), ',') AS en,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayEnumerateUniq(array(1, 1, 2, 2, 3))), ',') AS eu,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayEnumerateDense(array(20, 10, 20, 30))), ',') AS ed,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayRotateLeft(array(1, 2, 3), 1)), ',') AS rl,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayRotateRight(array(1, 2, 3), 1)), ',') AS rr,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayShiftLeft(array(1, 2, 3), 1, 0)), ',') AS sl,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayShiftRight(array(1, 2, 3), 1, 0)), ',') AS sr,
        arrayStringConcat(arrayMap(a -> arrayStringConcat(
          arrayMap(x -> toString(x), a), ','),
          arrayShingles(array(1, 2, 3), 2)), '|') AS sh,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayWithConstant(3, 7)), ',') AS wc,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayFill(x -> x != 0, array(1, 0, 0, 5, 0))), ',') AS ff,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayReverseFill(x -> x != 0, array(0, 0, 3, 0, 7))), ',') AS rf,
        arrayStringConcat(arrayMap(a -> arrayStringConcat(
          arrayMap(x -> toString(x), a), ','),
          arraySplit(x -> x % 10 = 1, array(1, 2, 3, 11, 12, 21))), '|') AS sp,
        arrayStringConcat(arrayMap(a -> arrayStringConcat(
          arrayMap(x -> toString(x), a), ','),
          arrayReverseSplit(x -> x % 10 = 1, array(1, 2, 3, 11, 12))), '|') AS rs""",
      """
      SELECT '1,3,6' AS cs, '1,0,3' AS csn, '0,3,5' AS d, '1,2,3' AS cp,
        '1,2,3' AS en, '1,2,1,2,1' AS eu, '1,2,1,3' AS ed,
        '2,3,1' AS rl, '3,1,2' AS rr, '2,3,0' AS sl, '0,1,2' AS sr,
        '1,2|2,3' AS sh, '7,7,7' AS wc, '1,1,1,5,5' AS ff,
        '3,3,3,7,7' AS rf, '1,2,3|11,12|21' AS sp, '1|2,3,11|12' AS rs"""),

    // Set predicates / algebra.
    Q.ch("q_fn_array_sets", """
      SELECT
        hasAll(array(1, 2, 3), array(2, 3)) AS ha,
        hasAll(array(1, 2), array(3)) AS ha0,
        hasAny(array(1, 2), array(2, 9)) AS hy,
        hasSubstr(array(1, 2, 3, 4), array(2, 3)) AS hs,
        hasSubstr(array(1, 2, 3, 4), array(2, 4)) AS hs0,
        CAST(countEqual(array(1, 2, 1, 1), 1) AS INT) AS ce,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(arrayUnion(array(1, 2), array(2, 3)))), ',') AS un,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(arraySymmetricDifference(array(1, 2, 3), array(2, 3, 4)))), ',') AS sd,
        ROUND(arrayJaccardIndex(array(1, 2), array(2, 3)), 6) AS ji""",
      """
      SELECT true AS ha, false AS ha0, true AS hy, true AS hs, false AS hs0,
        3 AS ce, '1,2,3' AS un, '1,4' AS sd, CAST(0.333333 AS DOUBLE) AS ji"""),

    // Vector norms / distances (arrayNorm.cpp, arrayDistance.cpp) — the
    // codegen'd ArrayDotProduct kernel under the reference names.
    Q.ch("q_fn_vector_norms", """
      SELECT
        ROUND(L1Norm(array(1.0D, -2.0D)), 6) AS n1,
        ROUND(L2Norm(array(3.0D, 4.0D)), 6) AS n2,
        ROUND(L2SquaredNorm(array(3.0D, 4.0D)), 6) AS n2s,
        ROUND(LinfNorm(array(1.0D, -5.0D)), 6) AS ni,
        ROUND(LpNorm(array(3.0D, 4.0D), 2.0), 6) AS np,
        ROUND(L1Distance(array(1.0D, 2.0D), array(4.0D, 6.0D)), 6) AS d1,
        ROUND(L2Distance(array(1.0D, 2.0D), array(4.0D, 6.0D)), 6) AS d2,
        ROUND(LinfDistance(array(1.0D, 2.0D), array(4.0D, 6.0D)), 6) AS di,
        ROUND(dotProduct(array(1.0D, 2.0D), array(3.0D, 4.0D)), 6) AS dp,
        ROUND(cosineDistance(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6) AS cd,
        arrayStringConcat(arrayMap(x -> toString(round(x, 1)),
          normalizeL2(array(3.0D, 4.0D))), ',') AS nl""",
      """
      SELECT CAST(3.0 AS DOUBLE) AS n1, CAST(5.0 AS DOUBLE) AS n2,
        CAST(25.0 AS DOUBLE) AS n2s, CAST(5.0 AS DOUBLE) AS ni,
        CAST(5.0 AS DOUBLE) AS np, CAST(7.0 AS DOUBLE) AS d1,
        CAST(5.0 AS DOUBLE) AS d2, CAST(4.0 AS DOUBLE) AS di,
        CAST(11.0 AS DOUBLE) AS dp, CAST(1.0 AS DOUBLE) AS cd,
        '0.6,0.8' AS nl"""),

    // Map/tuple tail (lambda-first reference order; mapApply via
    // entries zip, mapUpdate override semantics).
    Q.ch("q_fn_map_tail", """
      SELECT
        arrayStringConcat(arraySort(mapKeys(
          mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)))), ',') AS mf,
        element_at(mapApply((k, v) -> struct(k, v * 10), map('a', 1)), 'a') AS ma,
        mapExists((k, v) -> v = 2, map('a', 1, 'b', 2)) AS me,
        mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)) AS mall,
        arrayStringConcat(arraySort(mapKeys(
          mapConcat(map('a', 1), map('b', 2)))), ',') AS mc,
        element_at(mapUpdate(map('a', 1, 'b', 2), map('b', 9)), 'b') AS mu,
        mapContainsKeyLike(map('abc', 1), 'a%') AS mckl,
        arrayStringConcat(arraySort(mapKeys(
          mapExtractKeyLike(map('abc', 1, 'xbc', 2), 'a%'))), ',') AS mekl,
        element_at(mapFromArrays(array('k'), array(7)), 'k') AS mfa,
        tupleElement(tuple(1, 'x'), 2) AS te,
        ROUND(greatCircleDistance(2.3522, 48.8566, -0.1276, 51.5074), 0) AS gcd,
        ROUND(greatCircleAngle(2.3522, 48.8566, -0.1276, 51.5074), 6) AS gca""",
      """
      SELECT 'b' AS mf, 10 AS ma, true AS me, true AS mall, 'a,b' AS mc,
        9 AS mu, true AS mckl, 'abc' AS mekl, 7 AS mfa, 'x' AS te,
        CAST(343646.0 AS DOUBLE) AS gcd, CAST(3.089608 AS DOUBLE) AS gca"""),

    Q.ch("q_fn_array_auc", """
      SELECT
        ROUND(arrayAUC(array(0.1D, 0.4D, 0.35D, 0.8D),
                       array(0, 0, 1, 1)), 6) AS auc,
        ROUND(arrayAUC(array(0.1D, 0.2D), array(1, 0)), 6) AS auc0,
        arrayAUC(array(0.5D), array(1)) AS aucn""",
      """
      SELECT CAST(0.75 AS DOUBLE) AS auc, CAST(0.0 AS DOUBLE) AS auc0,
        CAST(NULL AS DOUBLE) AS aucn"""),

    // Morton (Z-order) codec + arrayZip.
    Q.ch("q_fn_morton_zip", """
      SELECT
        CAST(mortonEncode(3, 5) AS BIGINT) AS me,
        CAST(tupleElement(mortonDecode(2, 39), 'x') AS BIGINT) AS mx,
        CAST(tupleElement(mortonDecode(2, 39), 'y') AS BIGINT) AS my,
        CAST(mortonEncode(tupleElement(mortonDecode(2, 123456), 'x'),
          tupleElement(mortonDecode(2, 123456), 'y')) AS BIGINT) AS rt,
        toJSONString(arrayZip(array(1, 2), array('a', 'b'))) AS az""",
      """
      SELECT CAST(39 AS BIGINT) AS me, CAST(3 AS BIGINT) AS mx,
        CAST(5 AS BIGINT) AS my, CAST(123456 AS BIGINT) AS rt,
        '[{"0":1,"1":"a"},{"0":2,"1":"b"}]' AS az"""),

    // Final alias batch: timeSlots, positiveModulo, regexpExtract,
    // arrayElement.
    Q.ch("q_fn_alias_batch", """
      SELECT
        arrayStringConcat(arrayMap(t -> toString(t),
          timeSlots(TIMESTAMP'2024-01-01 10:14:00', 3600)), '|') AS ts,
        CAST(positiveModulo(-7, 3) AS INT) AS pm,
        regexpExtract('key=value', 'key=(\\w+)') AS re,
        regexpExtract('a1b2', '[0-9]', 0) AS re0,
        CAST(arrayElement(array(10, 20, 30), 2) AS INT) AS ae,
        CAST(arrayElement(array(10, 20, 30), -1) AS INT) AS aen,
        arrayElement(array(10), 5) AS aeo""",
      """
      SELECT '2024-01-01 10:00:00|2024-01-01 10:30:00|2024-01-01 11:00:00' AS ts,
        2 AS pm, 'value' AS re, '1' AS re0, 20 AS ae, 30 AS aen,
        CAST(NULL AS INT) AS aeo"""),

    // Distributed path: the same trees over per-order quantity arrays from
    // lineitem (sorted collect → deterministic; int sums exact).
    Q.ch("q_fn_array_real", """
      SELECT l_orderkey,
        CAST(arraySum(qs) AS BIGINT) AS qsum,
        CAST(arrayCount(x -> x > 25, qs) AS INT) AS nbig,
        arrayStringConcat(arrayMap(x -> toString(x), arrayCumSum(qs)), ',') AS cum,
        CAST(arrayFirstIndex(x -> x >= 25, qs) AS BIGINT) AS firstbig
      FROM (SELECT l_orderkey,
              arraySort(collect_list(CAST(l_quantity AS INT))) AS qs
            FROM lineitem GROUP BY l_orderkey)
      ORDER BY l_orderkey LIMIT 2000""",
      """
      SELECT l_orderkey,
        CAST(list_aggregate(qs, 'sum') AS BIGINT) AS qsum,
        CAST(len(list_filter(qs, x -> x > 25)) AS INT) AS nbig,
        array_to_string(list_transform(range(1, len(qs) + 1),
          i -> CAST(CAST(list_aggregate(qs[1:i], 'sum') AS INT) AS VARCHAR)), ',') AS cum,
        COALESCE(CAST(list_position(list_transform(qs, x -> x >= 25), true) AS BIGINT),
          0) AS firstbig
      FROM (SELECT l_orderkey,
              list_sort(list(CAST(l_quantity AS INTEGER))) AS qs
            FROM lineitem GROUP BY l_orderkey)
      ORDER BY l_orderkey LIMIT 2000"""),

    // Sweep #8 addendum: named member access, nested-array validation,
    // multi-ellipse containment, joda-syntax unix rendering.
    Q.ch("q_fn_tail8b", """
      SELECT
        getSubcolumn(struct(7 AS a, 'x' AS b), 'a') AS gsc,
        validateNestedArraySizes(array(1,2), array('a','b')) AS vn_ok,
        validateNestedArraySizes(array(1,2), array('a')) AS vn_bad,
        pointInEllipses(1.0, 0.0, 0.0, 0.0, 2.0, 1.0) AS pe_in,
        pointInEllipses(5.0, 5.0, 0.0, 0.0, 2.0, 1.0, 10.0, 10.0, 1.0, 1.0) AS pe_out,
        fromUnixTimestampInJodaSyntax(1700000000, 'yyyy-MM-dd HH:mm:ss') AS fj""",
      """
      SELECT
        7 AS gsc,
        TRUE AS vn_ok,
        FALSE AS vn_bad,
        TRUE AS pe_in,
        FALSE AS pe_out,
        '2023-11-14 22:13:20' AS fj"""),

    // arrayJoin function form (array/arrayJoin.cpp): the SELECT-list
    // row multiplier — one row per array element, alignment with other
    // projected columns preserved.
    Q.ch("q_fn_arrayjoin", """
      SELECT n_name, arrayJoin(array(1, 2)) AS k
      FROM nation WHERE n_nationkey < 3 ORDER BY n_name, k""",
      """
      SELECT n_name, UNNEST(ARRAY[1, 2]) AS k
      FROM nation WHERE n_nationkey < 3 ORDER BY n_name, k"""),

    Q.ch("q_fn_tail3_auc", """
      SELECT
        ROUND(arrayROCAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)), 6) AS roc,
        ROUND(arrayAUC(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)), 6) AS roc_alias,
        ROUND(arrayAUCPR(array(0.1, 0.4, 0.35, 0.8), array(0, 0, 1, 1)), 6) AS pr,
        ROUND(arrayAUCPR(array(0.8, 0.1, 0.4, 0.35), array(1, 0, 0, 1)), 6) AS pr2,
        arrayAUCPR(array(0.1, 0.2), array(0, 0)) IS NULL AS pr_single_class""",
      """
      SELECT
        0.75 AS roc, 0.75 AS roc_alias,
        ROUND((1.0 + 2.0/3.0) / 2, 6) AS pr,
        ROUND((1.0 + 2.0/3.0) / 2, 6) AS pr2,
        TRUE AS pr_single_class"""),

    // mapPopulateSeries gap fill + the fixed-seed shuffle family (order
    // contract pinned via sort/cardinality, not sequence).
    Q.ch("q_fn_tail3_maparr", """
      SELECT
        toJSONString(mapPopulateSeries(map(1, 10, 4, 40))) AS mps,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(arrayShuffle(array(3, 1, 2)))), ',') AS shuf,
        CAST(size(arrayRandomSample(array(1, 2, 3, 4, 5), 2)) AS INT) AS samp_n,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(arrayPartialShuffle(array(2, 1)))), ',') AS pshuf""",
      """
      SELECT '{"1":10,"2":0,"3":0,"4":40}' AS mps,
        '1,2,3' AS shuf, 2 AS samp_n, '1,2' AS pshuf"""),

    // arrayReduce('agg', arr) dispatch (arrayReduce.cpp): named aggregates
    // over per-row arrays, incl. the parameterized quantile spelling and
    // the two-array argMin/argMax forms. Oracle states the expected
    // values as literals (quantileExact index = floor(level*size),
    // QuantileExact.h — [1,2,3,4] median → 3, q0.25 → 2).
    Q.ch("q_fn_array_reduce", """
      SELECT
        CAST(arrayReduce('count', array(1,2,3,4)) AS BIGINT) AS cnt,
        CAST(arrayReduce('sum', array(1,2,3,4)) AS BIGINT) AS sm,
        CAST(arrayReduce('min', array(7,3,9)) AS BIGINT) AS mn,
        CAST(arrayReduce('max', array(7,3,9)) AS BIGINT) AS mx,
        CAST(arrayReduce('avg', array(1,2,3,4)) AS DOUBLE) AS av,
        CAST(arrayReduce('any', array(5,6,7)) AS BIGINT) AS any_v,
        CAST(arrayReduce('anyLast', array(5,6,7)) AS BIGINT) AS last_v,
        CAST(arrayReduce('uniqExact', array(1,2,2,3,3,3)) AS BIGINT) AS uq,
        CAST(arrayReduce('median', array(1,2,3,4)) AS BIGINT) AS med,
        CAST(arrayReduce('quantile(0.25)', array(1,2,3,4)) AS BIGINT) AS q25,
        CAST(arrayReduce('argMin', array(10,20,30), array(3,1,2)) AS BIGINT) AS amin,
        CAST(arrayReduce('argMax', array(10,20,30), array(3,1,2)) AS BIGINT) AS amax,
        arrayStringConcat(arrayReduce('groupUniqArray', array(2,1,2,3)), ',') AS guarr,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayReduceInRanges('sum', array(tuple(1,3), tuple(2,2)), array(10,20,30,40))), ',') AS rsums""",
      """
      SELECT
        CAST(4 AS BIGINT) AS cnt,
        CAST(10 AS BIGINT) AS sm,
        CAST(3 AS BIGINT) AS mn,
        CAST(9 AS BIGINT) AS mx,
        CAST(2.5 AS DOUBLE) AS av,
        CAST(5 AS BIGINT) AS any_v,
        CAST(7 AS BIGINT) AS last_v,
        CAST(3 AS BIGINT) AS uq,
        CAST(3 AS BIGINT) AS med,
        CAST(2 AS BIGINT) AS q25,
        CAST(20 AS BIGINT) AS amin,
        CAST(10 AS BIGINT) AS amax,
        '2,1,3' AS guarr,
        '60,50' AS rsums"""),

    // corrMatrix / covarSampMatrix / covarPopMatrix (round 8 —
    // AggregateFunctionCorrMatrix.cpp): the n-ary matrix aggregates,
    // expanded to pairwise cells (each matrix computed ONCE in a
    // subquery — repeating the expansion per output column trips a
    // janino rvalue bug and falls back to interpreted codegen).
    // Diagonal of corr === 1, symmetric off-diagonals, covariance
    // matrices agree with the scalar twins.
    Q.ch("q_fn_corr_matrix", """
      SELECT
        ROUND(arrayElement(arrayElement(m, 1), 1), 4) AS c11,
        ROUND(arrayElement(arrayElement(m, 1), 2), 4) AS c12,
        ROUND(arrayElement(arrayElement(m, 2), 1), 4) AS c21,
        ROUND(arrayElement(arrayElement(m, 3), 3), 4) AS c33,
        ROUND(arrayElement(arrayElement(vs, 1), 2), 4) AS vs12,
        ROUND(arrayElement(arrayElement(vp, 2), 1), 4) AS vp21
      FROM (SELECT
        corrMatrix(l_quantity, l_extendedprice, l_discount) AS m,
        covarSampMatrix(l_quantity, l_discount) AS vs,
        covarPopMatrix(l_quantity, l_discount) AS vp
      FROM lineitem)""",
      """
      SELECT
        ROUND(CORR(l_quantity, l_quantity), 4) AS c11,
        ROUND(CORR(l_quantity, l_extendedprice), 4) AS c12,
        ROUND(CORR(l_extendedprice, l_quantity), 4) AS c21,
        ROUND(CORR(l_discount, l_discount), 4) AS c33,
        ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS vs12,
        ROUND(COVAR_POP(l_discount, l_quantity), 4) AS vp21
      FROM lineitem"""),

    // Registry sweep #5 (round 8): arrayResize both directions,
    // capture-group extraction (first-match / horizontal / vertical),
    // ULID timestamp decode (the generator's own output roundtrips
    // through a fixed known ULID), Hilbert codec (classic algorithm:
    // d=0..3 walks the unit quadrant corners; roundtrip pinned), and
    // the RFC URL-function aliases.
    Q.ch("q_fn_tail5", """
      SELECT
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayResize(array(1, 2, 3), 5, 0)), ',') AS rz_pad,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayResize(array(1, 2, 3), 2)), ',') AS rz_cut,
        arrayStringConcat(arrayMap(x -> toString(x),
          arrayResize(array(1, 2, 3), -5, 9)), ',') AS rz_front,
        arrayStringConcat(extractGroups('k=v; a=b', '(\\w+)=(\\w+)'), '|') AS eg,
        arrayStringConcat(arrayElement(
          extractAllGroupsHorizontal('k=v; a=b', '(\\w+)=(\\w+)'), 1), '|') AS egh1,
        arrayStringConcat(arrayElement(
          extractAllGroupsHorizontal('k=v; a=b', '(\\w+)=(\\w+)'), 2), '|') AS egh2,
        arrayStringConcat(arrayElement(
          extractAllGroupsVertical('k=v; a=b', '(\\w+)=(\\w+)'), 2), '|') AS egv2,
        CAST(ULIDStringToDateTime('01GNB2S2FGN2P93QPXDNB4EMC1') AS STRING) AS ulid_ts,
        CAST(hilbertEncode(0, 0) AS BIGINT) AS h00,
        CAST(hilbertEncode(1, 1) AS BIGINT) AS h11,
        CAST(tupleElement(hilbertDecode(2, hilbertEncode(123, 456)), 'x') AS BIGINT) AS hx,
        CAST(tupleElement(hilbertDecode(2, hilbertEncode(123, 456)), 'y') AS BIGINT) AS hy,
        domainRFC('https://www.example.com/p') AS drfc,
        topLevelDomainRFC('https://www.example.com/p') AS tld,
        cutToFirstSignificantSubdomainRFC('https://a.b.example.com/p') AS cfs""",
      """
      SELECT
        '1,2,3,0,0' AS rz_pad,
        '1,2' AS rz_cut,
        '9,9,1,2,3' AS rz_front,
        'k|v' AS eg,
        'k|a' AS egh1,
        'v|b' AS egh2,
        'a|b' AS egv2,
        '2022-12-28 00:40:37.616' AS ulid_ts,
        CAST(0 AS BIGINT) AS h00,
        CAST(2 AS BIGINT) AS h11,
        CAST(123 AS BIGINT) AS hx,
        CAST(456 AS BIGINT) AS hy,
        'www.example.com' AS drfc,
        'com' AS tld,
        'example.com' AS cfs"""),

    // Registry sweep #6 (round 9): published-algorithm hash vectors
    // (xxHash32 'abc' = 0x32D153FF per the xxHash spec; javaHashUTF16LE
    // reads RAW bytes as UTF-16LE units so 'ab' hashes the single unit
    // 0x6261 = 25185; SHA-512/256 'abc' is the FIPS test vector),
    // first-occurrence replace lanes, tuple tail, vector arithmetic,
    // base64 spellings, unbin, A/B sample sizing (closed-form with
    // z(0.975)=1.95996, z(0.8)=0.84162), normalized Gini (reference
    // docs example), and the type-name/introspection surface.
    Q.ch("q_fn_tail6", """
      SELECT
        CAST(xxHash32('abc') AS BIGINT) AS h32,
        CAST(javaHashUTF16LE('ab') AS BIGINT) AS jh,
        replaceOne('aXbXc', 'X', '-') AS r1,
        replaceRegexpOne('aa11bb22', '\\d+', 'N') AS rr,
        arrayStringConcat(splitByAlpha('ab1cd2ef'), '|') AS sa,
        CAST(visibleWidth(12345) AS BIGINT) AS vw,
        toTypeName(CAST(1 AS BIGINT)) AS tn,
        toTypeName('x') AS tn2,
        upper(hex(SHA512_256('abc'))) AS sh,
        to_base64('abc') AS b64,
        from_base64('YWJj') AS fb,
        unbin('0110000101100010') AS ub,
        CAST(tupleHammingDistance(struct(1, 2, 3), struct(1, 9, 3)) AS BIGINT) AS thd,
        arrayStringConcat(arrayMap(x -> toString(x),
          vectorSum(array(1.0, 2.0), array(3.0, 4.0))), ',') AS vs,
        arrayStringConcat(arrayMap(x -> toString(x),
          vectorDifference(array(5.0, 7.0), array(2.0, 3.0))), ',') AS vd,
        arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
          normalizeLp(array(3.0, 4.0), 2.0)), ',') AS nlp,
        round(minSampleSizeContinous(10.0, 2.0, 0.05, 0.8, 0.05).minimum_sample_size, 1) AS mss,
        round(minSampleSizeConversion(0.25, 0.05, 0.8, 0.05).minimum_sample_size, 1) AS msc,
        round(arrayNormalizedGini(array(0.9, 0.3, 0.8, 0.7),
          array(6.0, 1.0, 0.0, 2.0)).gini_normalized, 6) AS gini,
        CAST(shardNum() AS BIGINT) AS shn,
        CAST(shardCount() AS BIGINT) AS shc,
        defaultValueOfArgumentType(CAST(5 AS INT)) = 0 AS dv,
        CAST(length(randomPrintableASCII(12)) AS BIGINT) AS rnd_len,
        rand32() BETWEEN 0 AND 4294967296 AS r32_range,
        randCanonical() BETWEEN 0.0 AND 1.0 AS rc_range,
        CAST(throwIf(1 = 2) AS BIGINT) AS ti""",
      """
      SELECT
        CAST(852579327 AS BIGINT) AS h32,
        CAST(25185 AS BIGINT) AS jh,
        'a-bXc' AS r1,
        'aaNbb22' AS rr,
        'ab|cd|ef' AS sa,
        CAST(5 AS BIGINT) AS vw,
        'Int64' AS tn,
        'String' AS tn2,
        '53048E2681941EF99B2E29B76B4C7DABE4C2D0C634FC6D46E0E2F13107E7AF23' AS sh,
        'YWJj' AS b64,
        'abc' AS fb,
        'ab' AS ub,
        CAST(1 AS BIGINT) AS thd,
        '4.0,6.0' AS vs,
        '3.0,4.0' AS vd,
        '0.6,0.8' AS nlp,
        251.2 AS mss,
        1250.7 AS msc,
        0.684211 AS gini,
        CAST(1 AS BIGINT) AS shn,
        CAST(1 AS BIGINT) AS shc,
        TRUE AS dv,
        CAST(12 AS BIGINT) AS rnd_len,
        TRUE AS r32_range,
        TRUE AS rc_range,
        CAST(0 AS BIGINT) AS ti"""),

    // Round-12: the experimental-KQL array sorters (KqlArraySort.cpp):
    // sort the first array (nulls last unless the trailing bool says
    // first), permute siblings by the same order, NULL a sibling whose
    // length mismatches.
    Q.ch("q_fn_kql_sort", """
      SELECT
        arrayStringConcat(arrayMap(x -> ifNull(toString(x), 'N'),
          kql_array_sort_asc(array(3, 1, NULL, 2)).col1), ',') AS asc_nl,
        arrayStringConcat(arrayMap(x -> ifNull(toString(x), 'N'),
          kql_array_sort_asc(array(3, 1, NULL), false).col1), ',') AS asc_nf,
        arrayStringConcat(arrayMap(x -> toString(x),
          kql_array_sort_desc(array(1, 3, 2)).col1), ',') AS desc_k,
        arrayStringConcat(
          kql_array_sort_asc(array(2, 1), array('b', 'a')).col2, ',') AS perm,
        CAST(kql_array_sort_asc(array(2, 1), array('x')).col2
          AS STRING) AS mismatch""",
      """
      SELECT
        '1,2,3,N' AS asc_nl,
        'N,1,3' AS asc_nf,
        '3,2,1' AS desc_k,
        'a,b' AS perm,
        CAST(NULL AS VARCHAR) AS mismatch"""),

    // ==== Wide integers (sql/ChRegistryWide) ====

    // Wide-integer aggregation over the string carrier: exact group sums
    // beyond DECIMAL(38)'s per-addend range (each addend up to ~6e22 at
    // sf0.01; group sums ~1e26-1e28 stay inside HUGEINT, so DuckDB's
    // exact 128-bit SUM is a true independent oracle). minWide/maxWide
    // order numerically (not lexically); avgWide is Float64 like the
    // reference's avg.
    Q.ch("q_fn_wide_agg", """
      SELECT l_returnflag,
        sumWide(multiply(toInt128(l_orderkey), '1000000000000000000')) AS s,
        minWide(multiply(toInt128(l_orderkey), '1000000000000000000')) AS mn,
        maxWide(multiply(toInt128(l_orderkey), '1000000000000000000')) AS mx,
        round(avgWide(multiply(toInt128(l_orderkey), '1000000000000000000')) / 1e18, 4) AS av
      FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      """
      SELECT l_returnflag,
        CAST(SUM(CAST(l_orderkey AS HUGEINT) * 1000000000000000000) AS VARCHAR) AS s,
        CAST(MIN(CAST(l_orderkey AS HUGEINT) * 1000000000000000000) AS VARCHAR) AS mn,
        CAST(MAX(CAST(l_orderkey AS HUGEINT) * 1000000000000000000) AS VARCHAR) AS mx,
        round(AVG(CAST(l_orderkey AS DOUBLE)), 4) AS av
      FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ==== Dictionaries (sql/Dictionaries) ====

    // Hierarchical dictionary walks (round 10 —
    // HierarchyDictionariesUtils.h over the attribute declared
    // HIERARCHICAL): dictGetHierarchy includes the key and every
    // ancestor; dictIsIn walks up; children/descendants invert the
    // parent map (level 0 = all, level k = exactly that depth).
    // Synthetic 3-level forest: nations → 100+region → 1000.
    graft.Q("q_dict_hierarchy_fn", (s, dir) => {
      graft.Tables.register(s, dir)
      import org.apache.spark.sql.functions.{col => c, lit => l}
      val nation = graft.Tables.load(s, dir, "nation")
      // ids shifted off 0 — 0 is the reference's null-parent sentinel
      val src = nation.select((c("n_nationkey") + 1).cast("long").as("id"),
          (c("n_regionkey") + 100).cast("long").as("parent"))
        .unionByName(s.range(100, 105).toDF("id")
          .select(c("id"), l(1000L).as("parent")))
        .unionByName(s.range(1000, 1001).toDF("id")
          .select(c("id"), l(0L).as("parent")))
      s.sql("DROP TABLE IF EXISTS graft_hier_src")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_hier_src")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      src.write.mode("overwrite").saveAsTable("graft_hier_src")
      ClickHouseSql.sql(s, "DROP DICTIONARY IF EXISTS ghd")
      ClickHouseSql.sql(s, """
        CREATE DICTIONARY ghd (
          id UInt64,
          parent UInt64 HIERARCHICAL
        ) PRIMARY KEY id
        SOURCE(CLICKHOUSE(TABLE 'graft_hier_src'))
        LAYOUT(HASHED()) LIFETIME(300)""")
      ClickHouseSql.sql(s, """
        SELECT CAST(n_nationkey AS BIGINT) AS k,
          arrayStringConcat(arrayMap(x -> toString(x),
            dictGetHierarchy('ghd', n_nationkey + 1)), '>') AS hier,
          dictIsIn('ghd', n_nationkey + 1, 104) AS in_r4,
          CAST(size(dictGetChildren('ghd', 104)) AS BIGINT) AS r4_children,
          CAST(size(dictGetDescendants('ghd', 1000)) AS BIGINT) AS all_desc,
          CAST(size(dictGetDescendants('ghd', 1000, 1)) AS BIGINT) AS lvl1
        FROM nation ORDER BY k""")
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k,
        CAST(n_nationkey + 1 AS VARCHAR) || '>' ||
          CAST(100 + n_regionkey AS VARCHAR) || '>1000' AS hier,
        n_regionkey = 4 AS in_r4,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM nation WHERE n_regionkey = 4)
          AS r4_children,
        (SELECT CAST(COUNT(*) + 5 AS BIGINT) FROM nation) AS all_desc,
        CAST(5 AS BIGINT) AS lvl1
      FROM nation ORDER BY k"""))
  )
}
