package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.sql.ClickHouseSql

/** Oracled batteries for the array, bit/math, conversion and string
  * families (sql/ChRegistryArrays, ChMathBits, ChConversions, ChStrings,
  * ChStringSearch, ChHashes, ChAggregates): reference function-name surface
  * exercised through the dialect layer, value-pinned against DuckDB.
  * Literal-input batteries pin exact expected outputs (the convention
  * FIXTURES.md blesses for engine-internal codecs); one real-data query
  * per wave exercises the distributed path. Array outputs are stringified
  * (ARRAY_JOIN convention — the driver compare handles scalars/strings). */
object FunctionTail extends QueryPack {

  private def ch(name: String, chSql: String, oracle: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); ClickHouseSql.sql(s, chSql) },
      Some(oracle))

  override def queries: Seq[Q] = Seq(

    // Lambda-first higher-order family (arrayMap/Filter/Exists/All/Count/
    // Sum/Avg/Product/Fold/First/Last/Index — src/Functions/array/).
    ch("q_fn_array_hof", """
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
    ch("q_fn_array_struct", """
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
    ch("q_fn_array_sets", """
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
    ch("q_fn_vector_norms", """
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

    // Bit-manipulation family (bitAnd.cpp … bitTestAll.cpp,
    // bitPositionsToArray, bitmaskToArray/List).
    ch("q_fn_bit", """
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
    ch("q_fn_math_tail", """
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

    // Conversion tail (OrNull/OrZero/OrDefault matrix, accurateCast,
    // toBool/toNullable/materialize, toDecimalString).
    ch("q_fn_conv_tail", """
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
    ch("q_fn_cast_overflow", """
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

    // String tail (position/count/hasToken/firstLine/basename/quoteMeta/
    // translate/hamming/jaccard/ngram similarity).
    ch("q_fn_string_tail", """
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

    // Split family (separator-first reference order) + alphaTokens/tokens.
    ch("q_fn_split_tail", """
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
    ch("q_fn_simplejson", """
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

    // URL-part family (src/Functions/URL/) over ParseUrl + heuristics.
    ch("q_fn_url_tail", """
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

    // Date-manipulation tail: changeX (saturating), dateName, Julian-day
    // codecs, interval flooring, numeric date codecs, snowflake/UUIDv7.
    ch("q_fn_date_tail", """
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

    // Map/tuple tail (lambda-first reference order; mapApply via
    // entries zip, mapUpdate override semantics).
    ch("q_fn_map_tail", """
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

    // Hash tail: value-compatible SHA-2 binary digests + CRC32IEEE;
    // shape-compatible stand-ins for non-JVM digests; constant
    // constructors (ignore/identity/indexHint/emptyArrayX).
    ch("q_fn_hash_tail", """
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

    // Aggregate aliases: sumKahan/sumWithOverflow, stable moment names,
    // discrete quantileExactLow/High.
    ch("q_fn_agg_aliases", """
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

    // Misc wave: CI/UTF8 alias matrix, multiSearch matrix, regex extract.
    ch("q_fn_misc_str", """
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

    // Misc wave: special math (commons-math3), gcd/lcm, byteSwap,
    // decimal arithmetic, null-guarded division.
    ch("q_fn_misc_math", """
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

    // Misc wave: MySQL-style formatDateTime/parseDateTime, best-effort
    // parsing, make-date/time, 64-bit unix codecs, timestampDiff.
    ch("q_fn_misc_datetime", """
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

    // Misc wave: MAC/IPv4 codecs, XML/HTML codecs, cutURLParameter.
    ch("q_fn_misc_codec", """
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

    // Misc wave: formatReadable* renderings, CH format(), mapSort.
    ch("q_fn_misc_format", """
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

    // ARRAY JOIN clause (reference ASTArrayJoin → LATERAL VIEW rewrite):
    // inner unnest with alias.
    ch("q_ch_array_join_clause", """
      SELECT id, CAST(v AS INT) AS v
      FROM (SELECT 1 AS id, array(10, 20) AS vs
            UNION ALL SELECT 2, array(30)
            UNION ALL SELECT 3, array()) t
      ARRAY JOIN vs AS v
      ORDER BY id, v""",
      """
      SELECT * FROM (VALUES (1, 10), (1, 20), (2, 30)) AS t(id, v)
      ORDER BY id, v"""),

    // LEFT ARRAY JOIN with a bare identifier (element shadows the column).
    ch("q_ch_array_join_left", """
      SELECT id, CAST(vs AS INT) AS v
      FROM (SELECT 1 AS id, array(10, 20) AS vs
            UNION ALL SELECT 2, array(30)
            UNION ALL SELECT 3, array()) t
      LEFT ARRAY JOIN vs
      ORDER BY id, v""",
      """
      SELECT * FROM (VALUES (1, 10), (1, 20), (2, 30),
        (3, CAST(NULL AS INT))) AS t(id, v)
      ORDER BY id, v"""),

    // Parallel arrays ZIP (not cartesian) — second item rides the
    // position of the first.
    ch("q_ch_array_join_zip", """
      SELECT id, CAST(v AS INT) AS v, CAST(w AS INT) AS w
      FROM (SELECT 1 AS id, array(10, 20) AS vs
            UNION ALL SELECT 2, array(30)) t
      ARRAY JOIN vs AS v, arrayMap(x -> x * 10, vs) AS w
      ORDER BY id, v""",
      """
      SELECT * FROM (VALUES (1, 10, 100), (1, 20, 200), (2, 30, 300))
        AS t(id, v, w)
      ORDER BY id, v"""),

    // SELECT transformers (ASTColumnsTransformers): * REPLACE, COLUMNS
    // regex projection, COLUMNS APPLY — DuckDB shares the first two
    // natively, so the oracles are near-identical SQL.
    ch("q_ch_select_replace", """
      SELECT * REPLACE(o_totalprice * 2 AS o_totalprice)
      FROM orders ORDER BY o_orderkey LIMIT 500""",
      """
      SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
      FROM orders ORDER BY o_orderkey LIMIT 500"""),

    ch("q_ch_select_columns", """
      SELECT COLUMNS('^o_order') FROM orders
      ORDER BY o_orderkey LIMIT 500""",
      """
      SELECT COLUMNS('^o_order') FROM orders
      ORDER BY o_orderkey LIMIT 500"""),

    ch("q_ch_select_apply", """
      SELECT COLUMNS('^l_q') APPLY(min) FROM lineitem""",
      """
      SELECT MIN(l_quantity) AS "min(l_quantity)" FROM lineitem"""),

    // Trailing SETTINGS clause strips like FORMAT.
    ch("q_ch_settings_strip", """
      SELECT count() AS n FROM orders SETTINGS max_threads = 4""",
      """
      SELECT COUNT(*) AS n FROM orders"""),

    // Date tail 2: week boundaries, ISO year, relative bucket ids,
    // unit add/subtract complement, toTime/timeslot, age.
    ch("q_fn_date_tail2", """
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

    // numbers() SQL table function, arrayAUC, anyHeavy.
    ch("q_ch_numbers_tf", """
      SELECT CAST(number AS BIGINT) AS n, CAST(number * number AS BIGINT) AS sq
      FROM numbers(5) ORDER BY n""",
      """
      SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (1, 1), (2, 4), (3, 9), (4, 16)) AS t(n, sq) ORDER BY n"""),

    ch("q_fn_array_auc", """
      SELECT
        ROUND(arrayAUC(array(0.1D, 0.4D, 0.35D, 0.8D),
                       array(0, 0, 1, 1)), 6) AS auc,
        ROUND(arrayAUC(array(0.1D, 0.2D), array(1, 0)), 6) AS auc0,
        arrayAUC(array(0.5D), array(1)) AS aucn""",
      """
      SELECT CAST(0.75 AS DOUBLE) AS auc, CAST(0.0 AS DOUBLE) AS auc0,
        CAST(NULL AS DOUBLE) AS aucn"""),

    ch("q_agg_any_heavy", """
      SELECT CAST(anyHeavy(x) AS INT) AS h
      FROM VALUES (5), (5), (1), (5), (2) AS t(x)""",
      """
      SELECT 5 AS h"""),

    // IDN/punycode/Unicode-normalization bridges + caseWithExpression.
    ch("q_fn_idna_norm", """
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

    // Morton (Z-order) codec + arrayZip.
    ch("q_fn_morton_zip", """
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

    // DDL translation roundtrip: reference CREATE TABLE … ENGINE =
    // MergeTree (typed columns incl. wrappers/arrays/decimals) → Spark
    // parquet table; INSERT + SELECT through the dialect.
    graft.Q("q_ch_ddl_roundtrip", (s, dir) => {
      Tables.register(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_ddl_t")
      // a fresh session's in-memory catalog forgets the table but its
      // warehouse location persists — clear it or CREATE fails with
      // LOCATION_ALREADY_EXISTS
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_ddl_t")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      ClickHouseSql.sql(s, """
        CREATE TABLE graft_ddl_t (
          id UInt32,
          name LowCardinality(String),
          price Decimal(18, 2),
          tags Array(String),
          ts DateTime
        ) ENGINE = MergeTree ORDER BY id SETTINGS index_granularity = 8192""")
      ClickHouseSql.sql(s, """
        INSERT INTO graft_ddl_t VALUES
          (1, 'a', 1.50, array('x', 'y'), TIMESTAMP'2024-01-01 00:00:00'),
          (2, 'b', 2.25, array('z'), TIMESTAMP'2024-01-02 00:00:00')""")
      ClickHouseSql.sql(s, """
        SELECT CAST(id AS BIGINT) AS id, name,
          CAST(price AS DOUBLE) AS price,
          arrayStringConcat(tags, ',') AS tags, ts
        FROM graft_ddl_t ORDER BY id""")
    }, Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'a', CAST(1.50 AS DOUBLE), 'x,y',
         TIMESTAMP '2024-01-01 00:00:00'),
        (CAST(2 AS BIGINT), 'b', CAST(2.25 AS DOUBLE), 'z',
         TIMESTAMP '2024-01-02 00:00:00')
      ) AS t(id, name, price, tags, ts) ORDER BY id""")),

    // Jump consistent hash (bit-compatible), URL hierarchy chains,
    // arrayPartialSort.
    ch("q_fn_jump_urlh", """
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

    // Parametric-aggregate call syntax: quantile(p)(x) / quantiles(..)(x).
    ch("q_ch_parametric_quantiles", """
      SELECT
        ROUND(quantile(0.9)(o_totalprice), 4) AS p90,
        ROUND(quantileExact(0.5)(o_totalprice), 4) AS p50,
        ROUND(element_at(quantiles(0.25, 0.75)(o_totalprice), 1), 4) AS q25,
        ROUND(element_at(quantiles(0.25, 0.75)(o_totalprice), 2), 4) AS q75
      FROM orders""",
      """
      SELECT
        ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q25,
        ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q75
      FROM orders"""),

    // -If combinator registry forms + avgWeighted.
    ch("q_ch_if_combinators", """
      SELECT o_orderpriority,
        CAST(sumIf(CAST(o_totalprice AS DECIMAL(18,2)), o_orderstatus = 'F')
          AS DOUBLE) AS s,
        ROUND(CAST(sumIf(CAST(o_totalprice AS DECIMAL(18,2)), o_orderstatus = 'F')
          AS DOUBLE) / countIf(o_orderstatus = 'F'), 4) AS a,
        ROUND(minIf(o_totalprice, o_orderstatus = 'F'), 4) AS mn,
        ROUND(maxIf(o_totalprice, o_orderstatus = 'F'), 4) AS mx
      FROM orders
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      """
      SELECT o_orderpriority,
        CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS s,
        ROUND(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE)
          / COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 4) AS a,
        ROUND(MIN(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4) AS mn,
        ROUND(MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4) AS mx
      FROM orders
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // avgIf / avgWeighted on a literal set (double-sum order safety).
    ch("q_ch_avg_weighted_if", """
      SELECT
        ROUND(avgIf(x, w > 1), 4) AS ai,
        ROUND(avgWeighted(x, w), 4) AS aw
      FROM VALUES (10.0D, 1), (20.0D, 3), (30.0D, 0) AS t(x, w)""",
      """
      SELECT
        ROUND(AVG(x) FILTER (WHERE w > 1), 4) AS ai,
        ROUND(SUM(x * w) / SUM(w), 4) AS aw
      FROM (VALUES (CAST(10.0 AS DOUBLE), 1), (CAST(20.0 AS DOUBLE), 3),
        (CAST(30.0 AS DOUBLE), 0)) AS t(x, w)"""),

    // -Array combinator forms over per-order quantity arrays.
    ch("q_ch_array_combinators", """
      SELECT
        CAST(uniqArray(qs) AS INT) AS u,
        CAST(sumArray(qs) AS BIGINT) AS s,
        CAST(minArray(qs) AS INT) AS mn,
        CAST(maxArray(qs) AS INT) AS mx,
        arrayStringConcat(arrayMap(x -> toString(x),
          arraySort(arrayIntersect(array(1, 2, 3), array(2, 3, 4),
            array(3, 2)))), ',') AS ai3
      FROM (SELECT arraySort(collect_list(CAST(l_quantity AS INT))) AS qs
            FROM lineitem GROUP BY l_orderkey)""",
      """
      SELECT
        CAST(COUNT(DISTINCT q) AS INT) AS u,
        CAST(SUM(q) AS BIGINT) AS s,
        CAST(MIN(q) AS INT) AS mn,
        CAST(MAX(q) AS INT) AS mx,
        '2,3' AS ai3
      FROM (SELECT UNNEST(qs) AS q FROM
        (SELECT LIST(CAST(l_quantity AS INTEGER)) AS qs
         FROM lineitem GROUP BY l_orderkey))"""),

    // Window-function reference names over a deterministic order key.
    // Round-18 scale shape (r17 verdict #5/#6): the naive form windows ALL
    // of orders over the 5-value o_orderpriority key — 5 serial tasks at
    // any data size — to emit only the globally smallest 1000 keys. Every
    // emitted window value is determined by a BOUNDED input: rows at or
    // below the 1000th global key (the prefix frames: lag / nth / first;
    // lastValue-to-current is the current row itself) plus, for
    // leadInFrame(2), each priority's first TWO rows above that key. The
    // engine text therefore windows cut ∪ next-2 (≤ 1000 + 2·|priorities|
    // rows — the threshold is a per-partition top-k, the next-2 rows come
    // from two map-side-combined min aggregates, never a full-table
    // window). Supplement rows rank past 1000 and fall to the LIMIT, so
    // the result is unchanged — the oracle below stays the naive
    // formulation and pins the equivalence.
    ch("q_ch_window_names", """
      WITH kth AS (
        SELECT max(o_orderkey) AS kk
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1000)),
      m1 AS (
        SELECT o_orderpriority AS p1, min(o_orderkey) AS k1
        FROM orders WHERE o_orderkey > (SELECT kk FROM kth)
        GROUP BY o_orderpriority),
      m2 AS (
        SELECT o_orderpriority AS p2, min(o_orderkey) AS k2
        FROM orders JOIN m1 ON o_orderpriority = p1
        WHERE o_orderkey > k1
        GROUP BY o_orderpriority),
      cut AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey <= (SELECT kk FROM kth)
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders JOIN m1 ON o_orderpriority = p1 AND o_orderkey = k1
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders JOIN m2 ON o_orderpriority = p2 AND o_orderkey = k2)
      SELECT o_orderkey,
        ROUND(lagInFrame(o_totalprice) OVER w, 4) AS lg,
        ROUND(leadInFrame(o_totalprice, 2) OVER w, 4) AS ld,
        ROUND(nthValue(o_totalprice, 2) OVER
          (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS nv,
        ROUND(firstValue(o_totalprice) OVER w, 4) AS fv,
        ROUND(lastValue(o_totalprice) OVER
          (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS lv
      FROM cut
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
      ORDER BY o_orderkey LIMIT 1000""",
      """
      SELECT o_orderkey,
        ROUND(LAG(o_totalprice) OVER w, 4) AS lg,
        ROUND(LEAD(o_totalprice, 2) OVER w, 4) AS ld,
        ROUND(NTH_VALUE(o_totalprice, 2) OVER
          (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS nv,
        ROUND(FIRST_VALUE(o_totalprice) OVER w, 4) AS fv,
        ROUND(LAST_VALUE(o_totalprice) OVER
          (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS lv
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
      ORDER BY o_orderkey LIMIT 1000"""),

    // Final alias batch: timeSlots, positiveModulo, regexpExtract,
    // arrayElement.
    ch("q_fn_alias_batch", """
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

    // Multimodal metadata: real PNG/GIF/JPEG header parsing over binary
    // columns (crafted literal headers; no image libraries involved).
    ch("q_multimodal_image_dims", """
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

    // Interval constructors + toStartOfSecond.
    ch("q_fn_interval_ctors", """
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

    // DISTINCT ON / LIMIT offset,count / TOP n dialect forms.
    ch("q_ch_distinct_on", """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
      FROM orders ORDER BY o_custkey, o_orderkey""",
      """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
      FROM orders ORDER BY o_custkey, o_orderkey"""),

    ch("q_ch_limit_comma", """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10, 5""",
      """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5 OFFSET 10"""),

    ch("q_ch_top", """
      SELECT TOP 3 o_orderkey FROM orders ORDER BY o_orderkey""",
      """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3"""),

    // CREATE MATERIALIZED VIEW (batch CTAS analog) roundtrip.
    graft.Q("q_ch_mv_roundtrip", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s, """
        CREATE MATERIALIZED VIEW graft_mv_t POPULATE AS
        SELECT o_orderpriority, count() AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderpriority""")
      ClickHouseSql.sql(s,
        "SELECT * FROM graft_mv_t ORDER BY o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // JSONExtract family with multi-key paths and 1-based indices.
    ch("q_fn_jsonextract", """
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

    // Distributed path: the same trees over per-order quantity arrays from
    // lineitem (sorted collect → deterministic; int sums exact).
    ch("q_fn_array_real", """
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

    // Round-5 registry tail sweep wave 1: OrNull/OrZero conversion matrix
    // completion (FunctionsConversion.h — string-parsing forms: overflow
    // fails, no wrap; toDate/DateTime zero sentinels are the epoch).
    ch("q_fn_conv_tail2", """
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

    // Round-5 sweep wave 2: date tail — ISO-year start, custom weeks
    // (toCustomWeek.cpp modes 0/1/3), millisecond component, month name,
    // MJD OrNull twins, sub-second truncation, snowflake *ID codecs
    // (epoch-0 default per dateTimeToSnowflakeID.cpp) + legacy 64 pair.
    ch("q_fn_date_tail3", """
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

    // Round-5 sweep wave 3: printf, subsequence search, UTF8 affix tests,
    // parseReadableSize matrix (ceil semantics), exact intHash32/64
    // (expected values computed from Hash.h with the FunctionsHashing.h
    // salts; u64 rendered as string per the engine convention),
    // CIDR membership/range, factorial, proportionsZTest (ztest.cpp —
    // expected tuple equals the reference docs example, rounded 6dp).
    ch("q_fn_misc_tail2", """
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
        CAST(-0.206507 AS DOUBLE) AS ztp_z""")
  )
}
