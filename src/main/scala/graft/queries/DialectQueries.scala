package graft.queries

import graft.{Q, QueryPack, Scratch, Tables}
import graft.sql.ClickHouseSql
import org.apache.spark.sql.functions._

/** End-to-end ClickHouse-dialect queries: CH SQL text → rewriter + alias
  * registry → Catalyst. Oracles are the ANSI equivalents. */
object DialectQueries extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // optimize_trivial_count_query (round 7): a bare count() answers from
    // parquet FOOTERS (plans/TrivialCount) — zero executor tasks, no
    // scan; the no-FileScan plan is pinned in PlanAuditSpec. The oracle
    // is the plain count, which the footer sums must equal exactly.
    Q.ch("q_ch_trivial_count",
      "SELECT count() AS n FROM lineitem",
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem"),


    // PREWHERE + FORMAT strip + CH function names, all at once.
    Q.ch("q_ch_prewhere", """
      SELECT l_returnflag, count() AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      PREWHERE l_shipdate >= toDateTime('1997-01-01 00:00:00')
      WHERE l_quantity < 30.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag
      FORMAT JSONEachRow""",
      """
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 30.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // LIMIT n BY key.
    Q.ch("q_ch_limit_by", """
      SELECT user_id, event_id FROM events
      ORDER BY event_id LIMIT 2 BY user_id""",
      """
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events) t
      WHERE rn <= 2
      ORDER BY user_id, event_id"""),

    // CH scalar function names through the alias registry.
    Q.ch("q_ch_functions", """
      SELECT o_orderkey,
        toYear(o_orderdate) AS y,
        toStartOfMonth(o_orderdate) AS ms,
        toYYYYMM(o_orderdate) AS yyyymm,
        plus(toInt64(o_orderkey), 1) AS next_key,
        multiIf(o_orderstatus = 'F', 'done', o_orderstatus = 'O', 'open', 'other') AS st,
        ifNull(nullIf(o_orderpriority, '5-LOW'), 'LOW') AS pr,
        positionUTF8(o_orderpriority, '-') AS dash_at,
        toInt32OrZero(o_orderstatus) AS not_a_number
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000""",
      """
      SELECT o_orderkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        DATE_TRUNC('month', o_orderdate) AS ms,
        CAST(STRFTIME(o_orderdate, '%Y%m') AS INT) AS yyyymm,
        CAST(o_orderkey AS BIGINT) + 1 AS next_key,
        CASE WHEN o_orderstatus = 'F' THEN 'done'
             WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS st,
        COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'LOW') AS pr,
        CAST(POSITION('-' IN o_orderpriority) AS INT) AS dash_at,
        COALESCE(TRY_CAST(o_orderstatus AS INT), 0) AS not_a_number
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000"""),

    // CH aggregate names (uniqExact, argMax, median, quantileExact) —
    // compare key o_orderkey is unique, so argMax is deterministic.
    Q.ch("q_ch_aggregates", """
      SELECT o_orderpriority,
        uniqExact(o_custkey) AS customers,
        argMax(o_totalprice, o_orderkey) AS price_of_max_key,
        ROUND(median(o_totalprice), 4) AS med_price,
        ROUND(quantileExact(o_totalprice, 0.9), 4) AS p90_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
      """
      SELECT o_orderpriority,
        COUNT(DISTINCT o_custkey) AS customers,
        MAX_BY(o_totalprice, o_orderkey) AS price_of_max_key,
        ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS med_price,
        ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // CREATE FUNCTION (SQL-lambda UDF) end-to-end: two user lambdas —
    // one nested inside an aggregate — defined via the dialect layer and
    // inlined at rewrite time (UserDefinedSQLFunctionFactory.h:18).
    Q("q_ch_udf", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.createFunction(
        "CREATE FUNCTION price_band AS (p) -> multiIf(p < 50000, 'low', p < 150000, 'mid', 'high')")
      ClickHouseSql.createFunction(
        "CREATE FUNCTION discounted AS (x, d) -> x * (1 - d)")
      ClickHouseSql.sql(s, """
        SELECT price_band(o_totalprice) AS band, count() AS n,
          CAST(SUM(CAST(ROUND(discounted(o_totalprice, 0.1) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS disc_total
        FROM orders
        GROUP BY 1
        ORDER BY band""")
    }, Some("""
      SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid'
                  ELSE 'high' END AS band,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * (1 - 0.1) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS disc_total
      FROM orders
      GROUP BY 1
      ORDER BY band""")),

    // CH `any`/`anyLast` aggregates through the dialect path: `any(` is a
    // REWRITE to any_value (Spark's built-in `any` is bool_or and must not
    // be shadowed); deterministic here because each group has one value.
    Q.ch("q_ch_any", """
      SELECT o_custkey, any(o_orderstatus) AS some_status
      FROM (SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderstatus = 'F') t
      GROUP BY o_custkey
      ORDER BY o_custkey""",
      """
      SELECT o_custkey, MIN(o_orderstatus) AS some_status
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_custkey
      ORDER BY o_custkey"""),

    // multiSearchAny / multiMatchAny through the registry (OR-of-contains
    // / OR-of-rlike rewrite, src/Functions/multiSearchAny.cpp).
    Q.ch("q_ch_multisearch", """
      SELECT p_partkey,
        multiSearchAny(p_name, array('red', 'blue')) AS has_color,
        multiMatchAny(p_type, array('^ECONOMY', 'BRASS$')) AS type_match
      FROM part ORDER BY p_partkey LIMIT 500""",
      """
      SELECT p_partkey,
        (p_name LIKE '%red%' OR p_name LIKE '%blue%') AS has_color,
        (REGEXP_MATCHES(p_type, '^ECONOMY') OR REGEXP_MATCHES(p_type, 'BRASS$')) AS type_match
      FROM part ORDER BY p_partkey LIMIT 500"""),

    // multiSearchAny with a 16-needle literal set — this size compiles to
    // the single-pass Aho-Corasick automaton (MultiSearchExpressions.scala;
    // reference: the Hyperscan dispatch in src/Functions/MultiMatchAnyImpl.h)
    // instead of 16 rescans. The oracle states the OR-of-contains semantics
    // the automaton must reproduce byte-for-byte; q_ch_multisearch above
    // keeps pinning the small-set OR-chain path.
    Q.ch("q_ch_multisearch_many", """
      SELECT doc_id, multiSearchAny(text, array(
          'quantum', 'recipe', 'galaxy', 'parliament', 'volcano',
          'syntax', 'harvest', 'molecule', 'renaissance', 'glacier',
          'protocol', 'symphony', 'bacteria', 'treaty', 'algorithm',
          'monsoon')) AS hit
      FROM documents ORDER BY doc_id""",
      """
      SELECT doc_id,
        (CONTAINS(text, 'quantum') OR CONTAINS(text, 'recipe')
          OR CONTAINS(text, 'galaxy') OR CONTAINS(text, 'parliament')
          OR CONTAINS(text, 'volcano') OR CONTAINS(text, 'syntax')
          OR CONTAINS(text, 'harvest') OR CONTAINS(text, 'molecule')
          OR CONTAINS(text, 'renaissance') OR CONTAINS(text, 'glacier')
          OR CONTAINS(text, 'protocol') OR CONTAINS(text, 'symphony')
          OR CONTAINS(text, 'bacteria') OR CONTAINS(text, 'treaty')
          OR CONTAINS(text, 'algorithm') OR CONTAINS(text, 'monsoon')) AS hit
      FROM documents ORDER BY doc_id"""),

    // ORDER BY ... WITH FILL in SQL form (ASTSelectQuery.h:38 fill
    // clause): dense month axis with gaps as NULL.
    Q.ch("q_ch_with_fill", """
      SELECT m, n FROM (
        SELECT toMonth(o_orderdate) AS m, count() AS n
        FROM orders
        WHERE o_orderdate < toDateTime('1992-07-01 00:00:00')
        GROUP BY toMonth(o_orderdate))
      ORDER BY m WITH FILL FROM 1 TO 13""",
      """
      SELECT m, n
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS m) a
      LEFT JOIN (SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m, COUNT(*) AS n
                 FROM orders
                 WHERE o_orderdate < TIMESTAMP '1992-07-01 00:00:00'
                 GROUP BY 1) b USING (m)
      ORDER BY m"""),

    // WITH FILL ... INTERPOLATE (carry-forward over filled rows).
    Q.ch("q_ch_with_fill_interpolate", """
      SELECT m, n FROM (
        SELECT toMonth(o_orderdate) AS m, count() AS n
        FROM orders
        WHERE o_orderdate < toDateTime('1992-07-01 00:00:00')
        GROUP BY toMonth(o_orderdate))
      ORDER BY m WITH FILL FROM 1 TO 13 INTERPOLATE (n)""",
      """
      WITH j AS (
        SELECT m, n
        FROM (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS m) a
        LEFT JOIN (SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m, COUNT(*) AS n
                   FROM orders
                   WHERE o_orderdate < TIMESTAMP '1992-07-01 00:00:00'
                   GROUP BY 1) b USING (m))
      SELECT m, LAST_VALUE(n IGNORE NULLS) OVER (ORDER BY m
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM j
      ORDER BY m"""),

    // WITH FILL ... STALENESS (FillingTransform.h:87): filling stops once
    // the generated value drifts `n` or more past the previous ORIGINAL
    // row. Real rows at m = 0,4,8,12,16 (5 nations per region), staleness
    // 2 → only each real row's immediate successor survives the fill.
    Q.ch("q_with_fill_staleness", """
      SELECT m, n FROM (
        SELECT n_regionkey * 4 AS m, count() AS n
        FROM nation GROUP BY n_regionkey * 4)
      ORDER BY m WITH FILL FROM 0 TO 20 STALENESS 2""",
      """
      SELECT CAST(m AS INT) AS m, CAST(n AS BIGINT) AS n FROM (VALUES
        (0, 5), (1, NULL), (4, 5), (5, NULL), (8, 5), (9, NULL),
        (12, 5), (13, NULL), (16, 5), (17, NULL)) t(m, n) ORDER BY m"""),

    // GROUP BY ALL / ORDER BY ALL (the reference's enable_order_by_all /
    // GROUP BY ALL sugar, src/Parsers/ParserSelectQuery.cpp): every
    // non-aggregate select item groups; ORDER BY ALL sorts by the whole
    // select list. Spark 4 speaks both natively — the dialect passes
    // them through; this row pins that they keep working.
    Q.ch("q_ch_group_by_all", """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ALL ORDER BY ALL""",
      """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ALL ORDER BY ALL"""),

    // WITH FILL over a DATE axis (round 8 — the FillingTransform date
    // grid): per-day event counts densified over [Jan 1, Jan 15) with an
    // INTERVAL 1 DAY step; days before the data stay NULL-filled, the
    // source rows join back exactly.
    Q.ch("q_ch_with_fill_date", """
      SELECT d, n FROM (
        SELECT toDate(ts) AS d, count() AS n FROM events
        WHERE ts >= toDateTime('2024-01-05 00:00:00')
          AND ts < toDateTime('2024-01-12 00:00:00')
        GROUP BY toDate(ts))
      ORDER BY d WITH FILL FROM toDate('2024-01-01') TO toDate('2024-01-15')
        STEP INTERVAL 1 DAY""",
      """
      SELECT d, n FROM
        (SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-01-01',
           DATE '2024-01-14', INTERVAL 1 DAY)) AS DATE) AS d) a
      LEFT JOIN (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events
                 WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
                   AND ts < TIMESTAMP '2024-01-12 00:00:00'
                 GROUP BY 1) b USING (d)
      ORDER BY d"""),

    // Query parameters {name:Type} + SET param_<name>
    // (src/Parsers/ASTQueryParameter.h:10): typed-literal substitution —
    // a String, an integer, and a DateTime parameter in one predicate.
    Q("q_ch_query_params", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s, "SET param_status = 'F'")
      ClickHouseSql.sql(s, "SET param_minprice = 150000")
      ClickHouseSql.sql(s, "SET param_cut = '1995-06-17 00:00:00'")
      ClickHouseSql.sql(s, """
        SELECT count() AS n, CAST(min(o_orderkey) AS BIGINT) AS mn
        FROM orders
        WHERE o_orderstatus = {status:String}
          AND o_totalprice > {minprice:UInt32}
          AND o_orderdate < {cut:DateTime}""")
    }, Some("""
      SELECT COUNT(*) AS n, CAST(MIN(o_orderkey) AS BIGINT) AS mn
      FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 150000
        AND o_orderdate < TIMESTAMP '1995-06-17 00:00:00'""")),

    // Parameterized views (round 8 — StorageView.cpp parameterized
    // views): CREATE VIEW keeps its {p:Type} holes; every call
    // `v(p = x)` substitutes typed literals and inlines the body.
    Q("q_ch_param_view", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s, "DROP VIEW IF EXISTS pv_nation")
      ClickHouseSql.sql(s, """
        CREATE VIEW pv_nation AS
        SELECT n_nationkey, n_name FROM nation
        WHERE n_regionkey = {r:UInt32} AND n_nationkey >= {lo:UInt32}""")
      ClickHouseSql.sql(s, """
        SELECT CAST(n_nationkey AS BIGINT) AS k, n_name
        FROM pv_nation(r = 2, lo = 5) ORDER BY k""")
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
      WHERE n_regionkey = 2 AND n_nationkey >= 5 ORDER BY k""")),

    // FINAL on a corpus view declared ReplacingMergeTree(ver) ORDER BY key.
    Q("q_ch_final", (s, dir) => {
      Tables.register(s, dir)
      graft.sql.TableLedger.declare("orders", graft.sql.TableLedger.TableRecord(
        engine = "ReplacingMergeTree", engineArgs = Seq("o_orderdate", "o_orderkey"),
        orderBy = Some("o_custkey")))
      ClickHouseSql.sql(s, """
        SELECT o_custkey, o_orderkey, o_orderdate
        FROM orders FINAL
        ORDER BY o_custkey""")
    }, Some("""
      SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1
      ORDER BY o_custkey""")),

    // Table functions (src/TableFunctions)

    // Table functions numbers()/zeros()/generate_series()/values()
    // (src/TableFunctions/TableFunctionNumbers.cpp, ...GenerateSeries.cpp,
    // ...Values.cpp) → spark.range / Seq.toDF.
    Q.df("q_tf_numbers", """
      SELECT n, n * n AS sq FROM (SELECT UNNEST(GENERATE_SERIES(0, 99)) AS n)
      ORDER BY n""") { (s, _) =>
      s.range(0, 100).toDF("n")
        .select(col("n"), (col("n") * col("n")).as("sq"))
        .orderBy("n")
    },

    Q.df("q_tf_generate_series", """
      SELECT UNNEST(GENERATE_SERIES(10, 50, 5)) AS v ORDER BY v""") { (s, _) =>
      s.range(10, 51, 5).toDF("v").orderBy("v")
    },

    Q.df("q_tf_values", """
      SELECT * FROM (VALUES ('a', 1), ('b', 2), ('c', 3)) AS t(tag, v)
      ORDER BY tag""") { (s, _) =>
      import s.implicits._
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("tag", "v").orderBy("tag")
    },

    // file() table function (round 8 — TableFunctionFile.cpp): a CSV
    // fixture written through the engine's own CSVWithNames writer reads
    // back via `FROM file('path', 'CSVWithNames', 'cols')` through the
    // dialect; oracle recomputes from the source table.
    Q.df("q_tf_file", """
      SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY k""") { (s, dir) =>
      val path = Scratch.path("filefn", dir)
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name"))
      graft.sources.ChTextFormats.writeCsv(src, path, withNames = true)
      graft.sql.ClickHouseSql.sql(s,
        s"SELECT k, name FROM file('$path', 'CSVWithNames', " +
          "'k Int64, name String') ORDER BY k")
        .select(col("k").cast("integer").as("k"), col("name"))
    },

    // format() table function (round 12 — TableFunctionFormat.cpp):
    // inline data parsed through the named input format with the schema
    // INFERRED from the data; nameless formats name columns c1..cN.
    // Three format lanes (CSV / JSONEachRow / Values) unioned into one
    // frame the oracle restates as plain VALUES.
    Q.df("q_tf_format", """
      SELECT * FROM (VALUES
        ('csv', 1, 'one'), ('csv', 2, 'two'),
        ('json', 1, 'one'), ('json', 2, 'two'),
        ('values', 1, 'one'), ('values', 2, 'two'))
        AS t(src, k, v) ORDER BY src, k""") { (s, _) =>
      graft.sql.ClickHouseSql.sql(s, """
        SELECT 'csv' AS src, c1 AS k, c2 AS v
          FROM format(CSV, '1,one\n2,two')
        UNION ALL
        SELECT 'json' AS src, a AS k, b AS v
          FROM format(JSONEachRow,
            '{"a": 1, "b": "one"}\n{"a": 2, "b": "two"}')
        UNION ALL
        SELECT 'values' AS src, c1 AS k, c2 AS v
          FROM format(Values, '(1, ''one''), (2, ''two'')')
        ORDER BY src, k""")
        .select(col("src"), col("k").cast("integer").as("k"), col("v"))
    },

    // remote()/null() table functions (round 12 —
    // TableFunctionRemote.cpp, TableFunctionNull.cpp): localhost
    // addresses resolve to the local catalog table (what the reference
    // does on a one-node cluster; any OTHER address is a loud error,
    // never a silent local read); null('structure') reads empty.
    Q.df("q_tf_remote_null", """
      SELECT (SELECT count(*) FROM nation) AS remote_n,
             CAST(0 AS BIGINT) AS null_n,
             CAST(500 AS BIGINT) AS zeros_n,
             CAST(0 AS BIGINT) AS zeros_sum""") { (s, dir) =>
      Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        SELECT a.n AS remote_n, b.n AS null_n, c.n AS zeros_n,
               c.s AS zeros_sum
        FROM (SELECT count() AS n FROM remote('localhost', default, nation)) a
        CROSS JOIN (SELECT count() AS n FROM null('x Int64')) b
        CROSS JOIN (SELECT count() AS n, sum(zero) AS s FROM zeros(500)) c""")
    },

    // generateRandom table function: seed-deterministic rows; the oracle
    // recomputes the multiplicative-hash derivation over the same range.
    Q.ch("q_tf_generate_random", """
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

    // Clause spellings, combinators and DDL round trips

    // NLP minimal pack: tokens() + stem() through the CH registry
    // (tokens.cpp, stem.cpp — stem is this engine's documented
    // suffix-stripping heuristic; the oracle replays the same regex chain).
    Q.ch("q_ch_stem_tokens", """
      SELECT doc_id,
        ARRAY_JOIN(SLICE(tokens(text), 1, 6), ',') AS tok6,
        stem('en', ELEMENT_AT(tokens(LOWER(text)), 1)) AS stem_first,
        stem('en', 'running') AS s_run, stem('en', 'cities') AS s_cit,
        stem('en', 'classes') AS s_cls, stem('en', 'quickly') AS s_quick
      FROM documents ORDER BY doc_id""",
      """
      WITH t AS (SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(text, '[^\p{L}\p{N}_]+'), x -> x <> '') AS toks,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS ltoks
        FROM documents)
      SELECT doc_id,
        ARRAY_TO_STRING(toks[1:6], ',') AS tok6,
        REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
          LOWER(ltoks[1]),
          'sses$', 'ss'), 'ies$', 'i'),
          '([a-z]{3,})(ing|edly|ed|ly)$', '\1'),
          '([a-z]+[^su])s$', '\1') AS stem_first,
        'runn' AS s_run, 'citi' AS s_cit, 'class' AS s_cls, 'quick' AS s_quick
      FROM t ORDER BY doc_id"""),

    // Second CH-name parity battery: the round-3 registry additions
    // (date arithmetic, padding/trim, array push/pop/sort/uniq, map
    // accessors, IPv6/UUID codecs through SQL). Constant-input results are
    // pinned as literals in the oracle; data-dependent ones recomputed.
    Q.ch("q_ch_functions2", """
      SELECT n_nationkey,
        addWeeks(toDateTime('1997-01-01 00:00:00'), n_nationkey) AS wk,
        CAST(subtractMonths(toDateTime('1997-06-15 00:00:00'), 1) AS DATE) AS sm,
        toDayOfYear(toDate('1997-03-05')) AS doy,
        toLastDayOfMonth(toDate('1997-02-03')) AS ldom,
        toUnixTimestamp(toDateTime('1997-01-01 00:00:00')) AS uts,
        fromUnixTimestamp(852076800) AS futs,
        leftPad(n_name, 12, '.') AS lp,
        trimBoth('  x  ') AS tb,
        substringIndex('a.b.c', '.', 2) AS si,
        arrayStringConcat(arraySort(ARRAY(3, 1, 2)), ',') AS asrt,
        arrayStringConcat(arrayPushBack(ARRAY('a', 'b'), 'c'), ',') AS apb,
        arrayStringConcat(arrayPopFront(ARRAY('a', 'b', 'c')), ',') AS apf,
        arrayUniq(ARRAY(1, 1, 2)) AS au,
        mapContains(MAP('k', 1), 'k') AS mc,
        ipv6NumToString(UNHEX('20010DB8000000000000FF0000428329')) AS ip6,
        uuidNumToString(uuidStringToNum('550E8400-E29B-41D4-A716-446655440000')) AS uu
      FROM nation ORDER BY n_nationkey""",
      """
      SELECT n_nationkey,
        TIMESTAMP '1997-01-01 00:00:00' + n_nationkey * INTERVAL 7 DAY AS wk,
        DATE '1997-05-15' AS sm,
        64 AS doy,
        DATE '1997-02-28' AS ldom,
        852076800 AS uts,
        TIMESTAMP '1997-01-01 00:00:00' AS futs,
        LPAD(n_name, 12, '.') AS lp,
        'x' AS tb,
        'a.b' AS si,
        '1,2,3' AS asrt,
        'a,b,c' AS apb,
        'b,c' AS apf,
        2 AS au,
        TRUE AS mc,
        '2001:db8::ff00:42:8329' AS ip6,
        '550e8400-e29b-41d4-a716-446655440000' AS uu
      FROM nation ORDER BY n_nationkey"""),

    // multiSearchAny with NON-LITERAL needle columns (the round-2
    // "array-literal only" gap): needles built per-row from data.
    Q.ch("q_ch_multisearch_column", """
      SELECT p_partkey,
        multiSearchAny(p_name, SPLIT(p_type, ' ')) AS hit
      FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
      """
      SELECT p_partkey,
        LEN(LIST_FILTER(STRING_SPLIT(p_type, ' '),
          w -> CONTAINS(p_name, w))) > 0 AS hit
      FROM part WHERE p_partkey <= 300 ORDER BY p_partkey"""),

    // GROUPS frames THROUGH THE DIALECT (round-13 — the general
    // dense_rank + RANGE rewrite, ClickHouseSql.rewriteGroupsFrames,
    // generalizing the hand-emulated q_win_groups_frame above): an
    // arbitrary 2-PRECEDING/1-FOLLOWING peer-group frame. DuckDB's
    // parser rejects GROUPS too ("not implemented yet"), so the oracle
    // derives the peer-group sums independently: per-(partition, date)
    // pre-aggregation + a ROWS frame over the per-date table, joined
    // back — a different construction from the engine's per-row
    // dense_rank + RANGE plan.
    Q.ch("q_ch_groups_frame_sql", """
      SELECT l_returnflag AS f, CAST(l_shipdate AS DATE) AS d,
        CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) OVER (
          PARTITION BY l_returnflag ORDER BY CAST(l_shipdate AS DATE)
          GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS gsum
      FROM lineitem WHERE l_partkey <= 20
      ORDER BY f, d, gsum""",
      """
      WITH r AS (SELECT l_returnflag AS f, CAST(l_shipdate AS DATE) AS d,
                   CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
                 FROM lineitem WHERE l_partkey <= 20),
      pd AS (SELECT f, d, SUM(qc) AS dqc, COUNT(*) AS cnt FROM r GROUP BY f, d),
      w AS (SELECT f, d, cnt,
              SUM(dqc) OVER (PARTITION BY f ORDER BY d
                ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS gs
            FROM pd)
      SELECT w.f AS f, w.d AS d, CAST(w.gs AS BIGINT) AS gsum
      FROM w JOIN (SELECT f AS xf, d AS xd FROM r) x
        ON w.f = x.xf AND w.d = x.xd
      ORDER BY w.f, w.d, gsum"""),

    // ARRAY JOIN clause (reference ASTArrayJoin → LATERAL VIEW rewrite):
    // inner unnest with alias.
    Q.ch("q_ch_array_join_clause", """
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
    Q.ch("q_ch_array_join_left", """
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
    Q.ch("q_ch_array_join_zip", """
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
    Q.ch("q_ch_select_replace", """
      SELECT * REPLACE(o_totalprice * 2 AS o_totalprice)
      FROM orders ORDER BY o_orderkey LIMIT 500""",
      """
      SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
      FROM orders ORDER BY o_orderkey LIMIT 500"""),

    Q.ch("q_ch_select_columns", """
      SELECT COLUMNS('^o_order') FROM orders
      ORDER BY o_orderkey LIMIT 500""",
      """
      SELECT COLUMNS('^o_order') FROM orders
      ORDER BY o_orderkey LIMIT 500"""),

    Q.ch("q_ch_select_apply", """
      SELECT COLUMNS('^l_q') APPLY(min) FROM lineitem""",
      """
      SELECT MIN(l_quantity) AS "min(l_quantity)" FROM lineitem"""),

    // Trailing SETTINGS clause strips like FORMAT.
    Q.ch("q_ch_settings_strip", """
      SELECT count() AS n FROM orders SETTINGS max_threads = 4""",
      """
      SELECT COUNT(*) AS n FROM orders"""),

    // numbers() SQL table function, arrayAUC, anyHeavy.
    Q.ch("q_ch_numbers_tf", """
      SELECT CAST(number AS BIGINT) AS n, CAST(number * number AS BIGINT) AS sq
      FROM numbers(5) ORDER BY n""",
      """
      SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (1, 1), (2, 4), (3, 9), (4, 16)) AS t(n, sq) ORDER BY n"""),

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

    // Parametric-aggregate call syntax: quantile(p)(x) / quantiles(..)(x).
    Q.ch("q_ch_parametric_quantiles", """
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
    Q.ch("q_ch_if_combinators", """
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
    Q.ch("q_ch_avg_weighted_if", """
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
    Q.ch("q_ch_array_combinators", """
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
    Q.ch("q_ch_window_names", """
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

    // DISTINCT ON / LIMIT offset,count / TOP n dialect forms.
    Q.ch("q_ch_distinct_on", """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
      FROM orders ORDER BY o_custkey, o_orderkey""",
      """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey
      FROM orders ORDER BY o_custkey, o_orderkey"""),

    Q.ch("q_ch_limit_comma", """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10, 5""",
      """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5 OFFSET 10"""),

    Q.ch("q_ch_top", """
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
    
  )
}
