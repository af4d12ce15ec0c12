package graft.queries

import graft.{Q, QueryPack}

/** Wide-integer (Int128/Int256) batteries, exactly oracled against
  * DuckDB's native HUGEINT (which IS Int128) rendered as VARCHAR — the
  * one oracle engine that can restate 128-bit arithmetic exactly.
  *
  * The interesting regime is values ABOVE Spark's DECIMAL(38) cap
  * (9.99e37) and inside the Int128 range (±1.70e38): there the string
  * carrier + BigInteger kernels are the only exact path on the JVM side,
  * and DuckDB HUGEINT independently re-derives every cell. True 256-bit
  * values exceed what DuckDB can compute, so the Int256 lane is proven
  * by carrying HUGEINT-checkable values through toInt256 conversions
  * here, and genuine >2^128 wraparound is pinned against BigInteger in
  * WideIntSpec.
  *
  * Reference: src/DataTypes/DataTypesNumber.cpp (type ranges),
  * src/Functions/plus.cpp et al. (named arithmetic),
  * src/Functions/FunctionsConversion.h (toInt128/OrNull/OrZero matrix).
  */
object WideIntQueries extends QueryPack {

  // 12345678901234567890 * 9876543210987654321 ≈ 1.219e38: above the
  // DECIMAL(38) cap, inside Int128. Both engines derive it, not state it.
  private val bigA = "12345678901234567890"
  private val bigB = "9876543210987654321"
  private val i128Max = "170141183460469231731687303715884105727" // 2^127-1

  override def queries: Seq[Q] = Seq(

    Q.ch("q_fn_wide_int128", s"""
      SELECT
        multiply(toInt128('$bigA'), toInt128('$bigB')) AS prod,
        plus(multiply('$bigA', '$bigB'), '1') AS prod1,
        minus('0', multiply('$bigA', '$bigB')) AS negprod,
        negate(multiply('$bigA', '$bigB')) AS negprod2,
        intDiv(multiply('$bigA', '$bigB'), '1000000000000000000') AS idiv,
        modulo(multiply('$bigA', '$bigB'), '999999937') AS imod,
        intDivOrZero('$bigA', '0') AS idz,
        moduloOrZero('$bigA', '0') AS mdz,
        gcd('$bigA', '$bigB') AS g,
        lcm('123456789012', '987654321098') AS l,
        negate(negate('$bigA')) AS ab,
        divide('15', '4') AS dv,
        less(multiply('$bigA', '$bigB'), '$i128Max') AS lt,
        greater(multiply('$bigA', '$bigB'), '$i128Max') AS gt,
        equals(plus('$bigA', '0'), '$bigA') AS eq,
        notEquals('$bigA', '$bigB') AS ne,
        lessOrEquals('$i128Max', '$i128Max') AS le,
        greaterOrEquals('$bigB', '$bigA') AS ge,
        toInt128OrNull('${i128Max}') AS in_range,
        toInt128OrNull('170141183460469231731687303715884105728') AS out_range,
        toInt128OrZero('not a number') AS bad_zero,
        toInt128('  -42  ') AS trimmed""",
      s"""SELECT
        CAST(CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT) AS VARCHAR) AS prod,
        CAST(CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT) + 1 AS VARCHAR) AS prod1,
        CAST(0 - CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT) AS VARCHAR) AS negprod,
        CAST(-(CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT)) AS VARCHAR) AS negprod2,
        CAST((CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT))
             // CAST('1000000000000000000' AS HUGEINT) AS VARCHAR) AS idiv,
        CAST((CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT))
             % CAST('999999937' AS HUGEINT) AS VARCHAR) AS imod,
        '0' AS idz,
        '0' AS mdz,
        CAST(GCD(CAST('$bigA' AS HUGEINT), CAST('$bigB' AS HUGEINT)) AS VARCHAR) AS g,
        CAST(LCM(CAST('123456789012' AS HUGEINT),
                 CAST('987654321098' AS HUGEINT)) AS VARCHAR) AS l,
        CAST(-(-CAST('$bigA' AS HUGEINT)) AS VARCHAR) AS ab,
        15.0 / 4.0 AS dv,
        CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT)
          < CAST('$i128Max' AS HUGEINT) AS lt,
        CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT)
          > CAST('$i128Max' AS HUGEINT) AS gt,
        TRUE AS eq,
        TRUE AS ne,
        TRUE AS le,
        CAST('$bigB' AS HUGEINT) >= CAST('$bigA' AS HUGEINT) AS ge,
        CAST(CAST('$i128Max' AS HUGEINT) AS VARCHAR) AS in_range,
        CAST(TRY_CAST('170141183460469231731687303715884105728' AS HUGEINT)
             AS VARCHAR) AS out_range,
        '0' AS bad_zero,
        CAST(CAST('-42' AS HUGEINT) AS VARCHAR) AS trimmed"""),

    // Int256 lane: HUGEINT-checkable values carried through toInt256 /
    // toUInt256 conversions and OrNull range checks (2^127 IS in the
    // Int256 range, so the OrNull twin keeps it where Int128 rejects it).
    Q.ch("q_fn_wide_int256", s"""
      SELECT
        toInt256(multiply('$bigA', '$bigB')) AS v256,
        toUInt256(multiply('$bigA', '$bigB')) AS u256,
        toInt256OrNull('170141183460469231731687303715884105728') AS above_i128,
        toUInt256OrNull('-1') AS neg_u,
        toInt256OrZero('nope') AS bad,
        plus(toInt256('$i128Max'), '1') AS i128max_plus1""",
      s"""SELECT
        CAST(CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT) AS VARCHAR) AS v256,
        CAST(CAST('$bigA' AS HUGEINT) * CAST('$bigB' AS HUGEINT) AS VARCHAR) AS u256,
        '170141183460469231731687303715884105728' AS above_i128,
        CAST(NULL AS VARCHAR) AS neg_u,
        '0' AS bad,
        '170141183460469231731687303715884105728' AS i128max_plus1"""),

    // Distributed path: per-row Int128 products over lineitem that
    // overflow DECIMAL(38) for the largest keys — the wide kernels run
    // inside whole-stage codegen over the scan, no driver involvement.
    // Key bounds keep the product inside INT128 at EVERY scale factor —
    // at sf0.1 the unbounded form overflowed the DUCKDB oracle's HUGEINT
    // (our Int128/256 carrier was fine); the gate must stay sf-robust.
    Q.ch("q_fn_wide_int_rows", """
      SELECT l_orderkey, l_linenumber,
        multiply(multiply(toInt128(l_orderkey), '1000000000000000'),
                 multiply(toInt128(l_partkey), '1000000000000000')) AS wide,
        modulo(multiply(toInt128(l_orderkey), toInt128(l_suppkey)),
               '2147483647') AS m
      FROM lineitem
      WHERE l_orderkey <= 2000 AND l_partkey <= 2000
      ORDER BY l_orderkey, l_linenumber
      LIMIT 500""",
      """SELECT l_orderkey, l_linenumber,
        CAST(CAST(l_orderkey AS HUGEINT) * 1000000000000000
             * CAST(l_partkey AS HUGEINT) * 1000000000000000 AS VARCHAR) AS wide,
        CAST(CAST(l_orderkey AS HUGEINT) * CAST(l_suppkey AS HUGEINT)
             % 2147483647 AS VARCHAR) AS m
      FROM lineitem
      WHERE l_orderkey <= 2000 AND l_partkey <= 2000
      ORDER BY l_orderkey, l_linenumber
      LIMIT 500""")
  )
}
