package graft.queries

import graft.{Q, Tables, QueryPack}
import graft.sql.ClickHouseSql

/** Oracled batteries for the scalar Roaring bitmap algebra
  * (sql/ChBitmapSketch.scala), URL-safe base64, compareSubstrings/
  * byteSlice, and the date tail. Expected values are stated as literals in
  * the DuckDB oracle (the bitmap state is engine-internal, but every
  * cardinality/array/membership readout is exact arithmetic both engines
  * can state).
  */
object FunctionTail2 extends QueryPack {

  private def ch(name: String, chSql: String, oracle: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); ClickHouseSql.sql(s, chSql) },
      Some(oracle))

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
    seriesStl,

    // Registry sweep #9 scalar lanes (the FINAL reference-name diff):
    // struct reshaping (tupleToNameValuePairs.cpp / flattenTuple.cpp),
    // errorCodeToName over the transcribed ErrorCodes.cpp table,
    // reference-verified aliases (match.cpp REGEXP_MATCHES,
    // multiIf.cpp caseWithoutExpr, toStartOfInterval.cpp time_bucket/
    // date_bin, parseDateTime.cpp str_to_date), ISO week-year lanes,
    // timezone offsets, bfloat16 rounding, IPv6 CIDR algebra, and the
    // OrDefault conversion tails.
    ch("q_fn_tail9", """
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

    // Round-11 hash upgrade: EXTERNALLY-anchored values — the official
    // Appleby x86_32 'hello' vector and the JDK hashCode contract are
    // facts both engines can state as literals (the stand-ins these
    // lanes replaced could never be value-pinned).
    ch("q_fn_real_hashes", """
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

    // Registry sweep #9 wave 3: funnel-next-node, timestamp-ordered
    // delta sums, tuple-of-intervals arithmetic, categorical IV
    // (closed-form on a perfectly separable tag), JSON path
    // introspection, withWWW subdomain cuts, the generic toInterval,
    // and the analysis-time setting constants — all restated by DuckDB
    // as plain values over the same rows.
    ch("q_fn_tail9d", """
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
    ch("q_fn_tail9c", """
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
    ch("q_fn_tail9b", """
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

    // Registry sweep #8: dateDiff BOUNDARY semantics (dateDiff.cpp —
    // year/month/day/hour boundaries, so '2023-12-31'→'2024-01-01' is
    // 1 year), the 2-arg Spark behavior preserved, banker's rounding,
    // boundary-array roundDown, pmodOrNull, byteSize sizing contract
    // (String = len + 9), charset conversion, partitionID, the
    // reinterpretAsUUID docs-example byte layout, and introspection.
    ch("q_fn_tail8", """
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

    // Sweep #8 addendum: named member access, nested-array validation,
    // multi-ellipse containment, joda-syntax unix rendering.
    ch("q_fn_tail8b", """
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

    // Time-window scalars (FunctionsTimeWindow.cpp): tumble/hop window
    // bounds as fixed-duration floor arithmetic; hopEnd is the latest
    // hop-aligned end past ts (the step-back loop closed-form), and
    // windowId is the gcd-aligned window end in epoch seconds.
    ch("q_fn_time_window", """
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

    // reinterpretAs* (reinterpretAs.cpp): raw little-endian byte-image
    // reinterpretation. 'abcd' = 61 62 63 64 read LE = 0x64636261;
    // numeric inputs contribute their LE bytes (reinterpretAsString cuts
    // trailing NULs — 25185 = 0x6261 -> 'ab'); FFFF as Int16 = -1;
    // 0000803F is IEEE-754 LE 1.0f; Date reads u16 days, DateTime u32
    // epoch seconds.
    ch("q_fn_reinterpret", """
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
    ch("q_fn_tail7", """
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

    // Round-7 registry tail: base58/base32 codecs (published schemes;
    // 'Hello World!' -> '2NEpo7TZRRrLZSi2U' is the classic base58 test
    // vector), geohash encode/decode (public algorithm; sqc8b4 is
    // Palermo's published cell), addDate/subDate interval arithmetic,
    // UTC tz converters, and the id-generator shape contracts
    // (nondeterministic values -> the oracle states the invariants).
    ch("q_fn_codec_tail4", """
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

    // arrayJoin function form (array/arrayJoin.cpp): the SELECT-list
    // row multiplier — one row per array element, alignment with other
    // projected columns preserved.
    ch("q_fn_arrayjoin", """
      SELECT n_name, arrayJoin(array(1, 2)) AS k
      FROM nation WHERE n_nationkey < 3 ORDER BY n_name, k""",
      """
      SELECT n_name, UNNEST(ARRAY[1, 2]) AS k
      FROM nation WHERE n_nationkey < 3 ORDER BY n_name, k"""),

    // Scalar bitmap algebra readouts (FunctionsBitmap.h). The Roaring64
    // payload is opaque; cardinalities, sorted member arrays, membership
    // and subset ops are exact and oracle-stated as list arithmetic.
    ch("q_fn_bitmap_scalar", """
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

    // URL-safe unpadded base64 (base64UrlEncode.cpp: '+'→'-', '/'→'_',
    // no '=' pad), compareSubstrings sign at 0-based offsets, byteSlice,
    // lastDay, UTCTimestamp sanity, nanosecond arithmetic on the µs
    // carrier (truncating — the documented DateTime64(6) cap).
    ch("q_fn_tail2_misc", """
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

    // String-distance family over corpus word pairs (first/last word of
    // each of the first 200 docs), oracled against DuckDB's OWN distance
    // builtins — an independent second implementation of the same
    // definitions (verified: 0 divergences for jaro/jaroWinkler/
    // levenshtein/jaccard on this corpus; round 6 absorbs last-ulp
    // summation differences). damerauLevenshtein is deliberately NOT
    // here: the reference implements OSA while DuckDB implements
    // unrestricted DL, and the corpus pairs do diverge — pinned with
    // literals in the edge battery below instead.
    ch("q_fn_string_distance", """
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
    ch("q_fn_string_distance_edge", """
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

    // Wide-integer aggregation over the string carrier: exact group sums
    // beyond DECIMAL(38)'s per-addend range (each addend up to ~6e22 at
    // sf0.01; group sums ~1e26-1e28 stay inside HUGEINT, so DuckDB's
    // exact 128-bit SUM is a true independent oracle). minWide/maxWide
    // order numerically (not lexically); avgWide is Float64 like the
    // reference's avg.
    ch("q_fn_wide_agg", """
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

    // Real quantile sketch engines: merging t-digest (δ=100; estimate
    // must land inside the exact q±0.05 rank band) and DDSketch (the
    // crisper contract: RELATIVE error <= alpha on positive values —
    // asserted at alpha=0.01 against the exact quantile). GK needs no
    // battery of its own: Spark's approx_percentile IS Greenwald-Khanna.
    ch("q_fn_quantile_engines", """
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
    ch("q_fn_quantile_timing", """
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
    ch("q_fn_uniq_theta", """
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

    // JSONMergePatch (RFC 7386) oracled against DuckDB's independent
    // json_merge_patch — both preserve target-then-patch key order, so
    // the comparison is byte-exact, including the delete-via-null and
    // scalar-replaces-object rules and the variadic left fold.
    ch("q_fn_json_merge_patch", """
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

    // SQL dictionary surface (sql/Dictionaries.scala): CREATE DICTIONARY
    // collects the source table into plan-constant maps (the reference's
    // FLAT/HASHED RAM-resident layout), dictGet* probe them as pure
    // Catalyst trees. Oracle restates every probe as a join against the
    // source table; the miss rows pin the reference's default semantics
    // (declared DEFAULT for dictGet, explicit arg for OrDefault, NULL for
    // OrNull).
    graft.Q("q_ch_dictionary_sql", (s, dir) => {
      graft.Tables.register(s, dir)
      ClickHouseSql.sql(s, "DROP DICTIONARY IF EXISTS nat_dict")
      ClickHouseSql.sql(s, """
        CREATE DICTIONARY nat_dict (
          n_nationkey UInt64,
          n_name String DEFAULT 'unknown',
          n_regionkey UInt64
        ) PRIMARY KEY n_nationkey
        SOURCE(CLICKHOUSE(TABLE 'nation'))
        LAYOUT(HASHED()) LIFETIME(300)""")
      ClickHouseSql.sql(s, """
        SELECT c_custkey,
          dictGet('nat_dict', 'n_name', c_nationkey) AS nname,
          dictGetString('nat_dict', 'n_name', c_nationkey) AS nname_typed,
          dictGet('nat_dict', 'n_name', c_custkey + 1000) AS miss_decl_default,
          dictGetOrDefault('nat_dict', 'n_name', c_custkey + 1000, 'none') AS miss_explicit,
          dictGetOrNull('nat_dict', 'n_name', c_custkey + 1000) AS miss_null,
          dictHas('nat_dict', c_nationkey) AS has_key,
          dictHas('nat_dict', c_custkey + 1000) AS has_miss,
          CAST(dictGetUInt64('nat_dict', 'n_regionkey', c_nationkey) AS BIGINT) AS rkey,
          CAST(dictGetInt32('nat_dict', 'n_regionkey', c_custkey + 1000) AS INT) AS rkey_miss_zero
        FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""")
    }, Some("""
      SELECT c_custkey,
        n.n_name AS nname,
        n.n_name AS nname_typed,
        'unknown' AS miss_decl_default,
        'none' AS miss_explicit,
        CAST(NULL AS VARCHAR) AS miss_null,
        TRUE AS has_key,
        FALSE AS has_miss,
        CAST(n.n_regionkey AS BIGINT) AS rkey,
        0 AS rkey_miss_zero
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c_custkey <= 100 ORDER BY c_custkey"""))
    ,

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
  ) ++ tail3

  /** AUC variants (sql/ChRegistryArrays.scala),
    * timezone surface, literal-unit date arithmetic, block/row
    * introspection. Expected values stated as DuckDB literals (the AUC
    * examples are the reference's own doc examples: arrayAUC.cpp:65,105).
    */
  private def tail3: Seq[Q] = Seq(

    ch("q_fn_tail3_auc", """
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

    ch("q_fn_tail3_misc", """
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

    // Aggregate tail over 5-nation region groups: singleValueOrNull
    // (value when one distinct, NULL once a second appears), the pairwise
    // corr/covar matrices, moving prefix sums and groupArrayLast over
    // ORDER-INDEPENDENT constructions (constant collect values), sample
    // cardinality, uniqCombined64 at exact-range cardinality.
    ch("q_fn_tail3_aggs", """
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

    // Query-log normalization (normalizeQuery.cpp): literals → ?, literal
    // lists → ?.., digit-heavy identifiers → ? unless KeepNames; the hash
    // form keys on the normalized text (two queries differing only in
    // literals collide, differing structure does not).
    ch("q_fn_tail3_normalize", """
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

    // mapPopulateSeries gap fill + the fixed-seed shuffle family (order
    // contract pinned via sort/cardinality, not sequence).
    ch("q_fn_tail3_maparr", """
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

    // Encryption family: ECB bytes pinned against an openssl vector
    // (AES-128-ECB, PKCS7), CBC/GCM roundtrip, tryDecrypt wrong-key NULL.
    ch("q_fn_tail3_crypto", """
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

    // generateRandom table function: seed-deterministic rows; the oracle
    // recomputes the multiplicative-hash derivation over the same range.
    ch("q_tf_generate_random", """
      SELECT id, v, s
      FROM generateRandom('id UInt32, v Float64, s String', 7)
      ORDER BY id LIMIT 5""",
      """
      SELECT id, v, s FROM (
        SELECT CAST((r * 2654435761 + 7) % 4294967296 AS BIGINT) AS id,
               CAST((r * 2654435761 + 84) % 4294967296 AS DOUBLE) / 4294967296.0 AS v,
               'v' || CAST((r * 2654435761 + 161) % 4294967296 % 10000 AS VARCHAR) AS s
        FROM (SELECT UNNEST(GENERATE_SERIES(0, 999999)) AS r))
      ORDER BY id LIMIT 5"""),

    // -SimpleState aliases (carrier = plain value), exact median, and the
    // plural discrete-quantile forms (low = lower order statistic,
    // high = upper, rendered in DuckDB via the negated-lower identity).
    ch("q_fn_tail3_aggs2", """
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

    // arrayReduce('agg', arr) dispatch (arrayReduce.cpp): named aggregates
    // over per-row arrays, incl. the parameterized quantile spelling and
    // the two-array argMin/argMax forms. Oracle states the expected
    // values as literals (quantileExact index = floor(level*size),
    // QuantileExact.h — [1,2,3,4] median → 3, q0.25 → 2).
    ch("q_fn_array_reduce", """
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

    // SimHash/MinHash scalar family + bitSlice + soundex
    // (FunctionsStringHash.cpp, bitSlice.cpp, soundex.cpp). Hash values
    // are engine-internal (stand-in policy) — the oracle states the
    // INVARIANTS both engines can check: near-identical strings land
    // within a small hamming distance, different strings land far,
    // minhash pairs match for equal inputs; soundex IS value-pinned
    // (standard algorithm); bitSlice against hex literals.
    ch("q_fn_simhash_family", """
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

    // corrMatrix / covarSampMatrix / covarPopMatrix (round 8 —
    // AggregateFunctionCorrMatrix.cpp): the n-ary matrix aggregates,
    // expanded to pairwise cells (each matrix computed ONCE in a
    // subquery — repeating the expansion per output column trips a
    // janino rvalue bug and falls back to interpreted codegen).
    // Diagonal of corr === 1, symmetric off-diagonals, covariance
    // matrices agree with the scalar twins.
    ch("q_fn_corr_matrix", """
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
    ch("q_fn_tail5", """
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
    ch("q_fn_tail6", """
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

    // Theta-sketch set algebra (round 9 — FunctionsUniqTheta.cpp):
    // -State lane + union/intersect/not + finalizeAggregation. Both
    // inputs stay below the sketch's nominal k (exact mode), so every
    // readout is EXACTLY the set-arithmetic answer the oracle computes
    // with COUNT(DISTINCT).
    ch("q_agg_theta_algebra", """
      SELECT
        CAST(finalizeAggregation(uniqThetaUnion(a.s, b.s)) AS BIGINT) AS u,
        CAST(finalizeAggregation(uniqThetaIntersect(a.s, b.s)) AS BIGINT) AS i,
        CAST(finalizeAggregation(uniqThetaNot(a.s, b.s)) AS BIGINT) AS d,
        CAST(finalizeAggregation(a.s) AS BIGINT) AS na,
        CAST(finalizeAggregation(b.s) AS BIGINT) AS nb
      FROM (SELECT uniqThetaState(c_nationkey) AS s FROM customer) a
      CROSS JOIN (SELECT uniqThetaState(n_nationkey) AS s FROM nation
                  WHERE n_nationkey < 10) b""",
      """
      SELECT
        (SELECT COUNT(DISTINCT k) FROM (
          SELECT c_nationkey AS k FROM customer
          UNION SELECT n_nationkey FROM nation WHERE n_nationkey < 10)) AS u,
        (SELECT COUNT(DISTINCT n_nationkey) FROM nation
         WHERE n_nationkey < 10
           AND n_nationkey IN (SELECT c_nationkey FROM customer)) AS i,
        (SELECT COUNT(DISTINCT c_nationkey) FROM customer
         WHERE c_nationkey NOT IN
           (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)) AS d,
        (SELECT COUNT(DISTINCT c_nationkey) FROM customer) AS na,
        (SELECT COUNT(DISTINCT n_nationkey) FROM nation
         WHERE n_nationkey < 10) AS nb"""),

    // Series analytics (round 9 — seriesOutliersDetectTukey.cpp,
    // seriesPeriodDetectFFT.cpp): Tukey fences on a planted outlier
    // (q1=2, q3=4, k=1.5 → fences [-1, 7]; 100 scores 93) and the DFT
    // periodogram on a period-3 signal (the reference docs' example
    // shape), plus the <4-points NaN and flat-signal 0 contracts.
    ch("q_fn_series", """
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

    // sqids (round 9 — sqid.cpp; the published sqids spec with the
    // default alphabet): the spec's own vectors ('86Rf07' for [1,2,3],
    // 'bM' for [0]) plus decode and a multi-number roundtrip.
    ch("q_fn_sqids", """
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

    // Round-12 sweep #10 aggregate tail — names the reproducible
    // extraction (scripts/extract_fn_names.py) surfaced beyond the old
    // hand-built list: the weighted/plural quantile-engine matrix, the
    // groupArrayArray/array_concat_agg combinator aliases, the Nothing
    // placeholder family, and the Dynamic/JSON introspection
    // aggregates. Every value restated by DuckDB as a literal.
    ch("q_fn_tail10", """
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

    // Round-12: the experimental-KQL array sorters (KqlArraySort.cpp):
    // sort the first array (nulls last unless the trailing bool says
    // first), permute siblings by the same order, NULL a sibling whose
    // length mismatches.
    ch("q_fn_kql_sort", """
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

    // Round-12: the IN-operator function spellings (in.cpp registers
    // all eight as callable functions; null_is_skipped lanes yield NULL
    // for a NULL needle and skip set NULLs, nullIn lanes treat NULL as
    // a value). `in` itself is the Spark builtin; the set argument is
    // an ARRAY on this engine.
    ch("q_fn_in_family", """
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

    // Round-12: toIPv6 conversion family (DNS-free parse, RFC 5952
    // canonical carrier, IPv4-mapped form) + the 128/256-bit
    // reinterpret lanes (LE byte image on the wide-int decimal-string
    // carrier; 'ab' = 0x6261 LE = 25185, the reference's own docs
    // example for the narrow lanes).
    ch("q_fn_ipv6_wide", """
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

    // Round-12: the Hyperscan fuzzy family's literal lane — exact
    // approximate-substring semantics (Sellers DP) for metacharacter-
    // free patterns. Literal battery hand-computed; the corpus lane
    // pins distance-0 == plain substring containment (an equivalence
    // DuckDB restates with LIKE) and distance monotonicity.
    ch("q_fn_fuzzy_match", """
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

    // Round-12: the formatQuery printer family (formatQuery.cpp) —
    // canonical keyword case + spacing, clause breaks in the multiline
    // form, literal passthrough, comment elision, and NULL (not throw)
    // from the OrNull twins on tokenizer-detectable parse errors.
    ch("q_fn_format_query", """
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
      FROM part WHERE p_partkey <= 500 ORDER BY p_partkey"""))
  )
}
