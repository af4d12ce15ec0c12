package graft

import graft.sql.ClickHouseSql

/** Executability smoke over realistic reference-dialect query shapes — the
  * "a user of the reference could paste their query" claim, exercised
  * end-to-end (rewrite + registry + Catalyst + execution). Correctness of
  * the individual pieces is oracled elsewhere (ScalarFunctions, DialectQueries);
  * this suite pins that the COMBINATIONS keep executing. */
class DialectTortureSpec extends SparkFunSuite {

  private def run(q: String): Long = {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, q).collect().length.toLong
  }

  test("analytics shapes execute") {
    assert(run("""
      SELECT toStartOfMonth(o_orderdate) AS m, count() AS n,
        quantile(0.9)(o_totalprice) AS p90,
        countIf(o_orderstatus = 'F') AS done
      FROM orders
      PREWHERE o_totalprice > 1000
      GROUP BY m HAVING count() > 0
      ORDER BY m
      LIMIT 100""") > 0)
    assert(run("""
      SELECT o_orderpriority, sumIf(o_totalprice, o_orderstatus = 'F') AS s
      FROM orders GROUP BY o_orderpriority
      ORDER BY s DESC LIMIT 3""") == 3)
    assert(run("""
      SELECT user_id, event_id FROM events
      ORDER BY event_id LIMIT 2 BY user_id""") > 0)
  }

  test("array and lambda shapes execute") {
    assert(run("""
      SELECT doc_id, w
      FROM documents
      ARRAY JOIN splitByWhitespace(text) AS w
      WHERE length(w) > 3
      LIMIT 50""") > 0)
    assert(run("""
      SELECT arrayFilter(x -> x % 2 = 0,
        arrayMap(x -> x * 3, range(1, 10))) AS evens""") == 1)
    assert(run("""
      SELECT number, arraySum(arrayMap(x -> x * x, range(toInt32(number)))) AS s
      FROM numbers(5) ORDER BY number""") == 5)
  }

  test("string and URL shapes execute") {
    assert(run("""
      SELECT domain(url) AS d, count() AS n
      FROM (SELECT concat('https://example.com/t/', event_type) AS url
            FROM events)
      GROUP BY d ORDER BY n DESC""") > 0)
    assert(run("""
      SELECT formatDateTime(ts, '%Y-%m') AS ym,
        uniqExact(user_id) AS users
      FROM events GROUP BY ym ORDER BY ym""") > 0)
  }

  test("dialect statement shapes execute") {
    assert(run("SELECT count() FROM orders SAMPLE 0.5 SETTINGS max_threads = 4") == 1)
    assert(run("""
      SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey
      FROM orders ORDER BY o_orderpriority, o_orderkey""") == 5)
    assert(run("SELECT TOP 7 o_orderkey FROM orders ORDER BY o_orderkey") == 7)
    assert(run("""
      SELECT o_orderkey FROM orders
      WHERE o_custkey GLOBAL IN (SELECT c_custkey FROM customer LIMIT 10)
      ORDER BY o_orderkey LIMIT 5""") > 0)
  }

  test("query-parameter substitution never fires inside string literals") {
    // an unset parameter INSIDE a literal must survive verbatim — if the
    // substitution touched literal segments this would throw "not set"
    val r = graft.sql.ClickHouseSql.sql(spark,
      "SELECT '{nosuchparam:Int32}' AS s, length('a {x:String} b') AS n")
      .head()
    assert(r.getString(0) == "{nosuchparam:Int32}" && r.getInt(1) == 14)
    // outside a literal, an unset parameter IS loud
    val err = intercept[IllegalArgumentException] {
      graft.sql.ClickHouseSql.sql(spark,
        "SELECT {nosuchparam:Int32} AS v")
    }
    assert(err.getMessage.contains("nosuchparam"))
    // type checking rejects a non-integer value for an integer hole
    graft.sql.ClickHouseSql.sql(spark, "SET param_tt = 'abc'")
    val err2 = intercept[Exception] {
      graft.sql.ClickHouseSql.sql(spark, "SELECT {tt:UInt32} AS v")
    }
    assert(err2.getMessage.contains("not"))
    spark.conf.unset("graft.ch.param_tt")
  }

  test("round-9 statement forms parse with hostile spacing and casing") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    val sp = spark; import sp.implicits._
    // mixed-case multi-space REPLACE PARTITION; quoted and bare values
    Seq("tort_rp_a", "tort_rp_b", "tort_rmv", "tort_ud").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(wh, true)
      fs.delete(new org.apache.hadoop.fs.Path(wh.toString + "_dropped"), true)
    }
    Seq((1, "x", 0), (2, "y", 1)).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").saveAsTable("tort_rp_a")
    Seq((9, "z", 1)).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").saveAsTable("tort_rp_b")
    ch("alter   TABLE tort_rp_a   replace PARTITION 1 from   tort_rp_b ;")
    assert(spark.table("tort_rp_a")
      .filter(org.apache.spark.sql.functions.col("p") === 1)
      .select("k").head().getInt(0) == 9)
    // refreshable MV with lowercase refresh clause + trailing semicolon
    ch("create materialized view tort_rmv refresh every 2 minute as " +
      "select count() as n from tort_rp_a;")
    assert(ch("SHOW CREATE TABLE tort_rmv").head().getString(0)
      .contains("REFRESH EVERY 2 MINUTE"))
    ch("SYSTEM   REFRESH   VIEW tort_rmv")
    // LIMIT BY with BOTH a per-key offset and a trailing row limit
    Tables.register(spark, sf)
    val rows = ch("""SELECT n_regionkey AS r, n_nationkey AS k FROM nation
      ORDER BY k LIMIT 1 OFFSET 1 BY r LIMIT 3""").collect()
    assert(rows.length == 3)
    // UNDROP right after two DROPs of the same name restores the LAST drop
    ch("CREATE MATERIALIZED VIEW tort_ud AS SELECT 1 AS a")
    ch("DROP TABLE tort_ud")
    ch("CREATE MATERIALIZED VIEW tort_ud AS SELECT 2 AS a")
    ch("DROP TABLE tort_ud")
    ch("UNDROP TABLE tort_ud")
    assert(spark.table("tort_ud").head().getInt(0) == 2)
    spark.sql("DROP TABLE tort_ud")
    spark.sql("DROP TABLE tort_rmv")
  }

  test("combinator and conversion shapes execute") {
    assert(run("""
      SELECT multiIf(o_totalprice > 300000, 'high',
                     o_totalprice > 100000, 'mid', 'low') AS band,
        count() AS n, round(avgIf(o_totalprice, o_orderstatus != 'P'), 2) AS a
      FROM orders GROUP BY band ORDER BY band""") == 3)
    assert(run("""
      SELECT toInt32OrZero(o_orderpriority) AS z,
        accurateCastOrNull(o_orderkey, 'Int32') AS k
      FROM orders ORDER BY o_orderkey LIMIT 5""") == 5)
  }

  test("round-10 statement forms survive hostile combinations") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    // QUALIFY + WITH TOTALS + LIMIT in ONE statement: the qualify wrap
    // keeps the grouping-sets rewrite and trailing LIMIT outside
    val r1 = ch("""
      SELECT n_regionkey AS r, count() AS n,
        row_number() OVER (ORDER BY count() DESC, n_regionkey) AS rn
      FROM nation
      GROUP BY n_regionkey WITH TOTALS
      QUALIFY rn <= 3
      ORDER BY rn LIMIT 2""").collect()
    assert(r1.length == 2)
    // the totals row (NULL key) ranks first: 25 nations total
    assert(r1.head.isNullAt(0) && r1.head.getLong(1) == 25L)
    // QUALIFY word inside a literal + a real QUALIFY in the same stmt
    val r2 = ch("""
      SELECT 'no QUALIFY here' AS s, n_nationkey,
        row_number() OVER (ORDER BY n_nationkey) AS rn
      FROM nation QUALIFY rn = 1""").collect()
    assert(r2.length == 1 && r2.head.getString(0) == "no QUALIFY here")
    // standalone UPDATE touching a merge()-readable policed table name,
    // with hostile spacing; then TOTALS over the mutated data
    spark.sql("DROP TABLE IF EXISTS tort10_t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "tort10_t")
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    val sp = spark; import sp.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("k", "v", "p").write.partitionBy("p").saveAsTable("tort10_t")
    ch("update   tort10_t   SET v = v + 1   WHERE p = 'a'")
    assert(ch("SELECT sum(v) AS s FROM merge('tort10_.*')")
      .head().getLong(0) == 62L)
    // PARALLEL WITH combining DDL + INSERT, literal containing the words
    ch("CREATE TABLE tort10_p1 (a Int64) ENGINE = MergeTree ORDER BY a " +
      "PARALLEL WITH CREATE TABLE tort10_p2 (s String) ENGINE = Memory")
    ch("INSERT INTO tort10_p2 SELECT 'PARALLEL WITH is just text here'")
    assert(spark.table("tort10_p2").count() == 1)
    // named collection round-trips through ALTER and file() under
    // hostile casing
    ch("drop named collection if exists tort10_nc")
    val tmp = java.nio.file.Files.createTempDirectory("tort10_nc").toString
    spark.table("tort10_t").write.mode("overwrite").parquet(tmp)
    ch(s"CREATE NAMED COLLECTION tort10_nc AS path = '$tmp', format = 'Parquet'")
    ch("alter  NAMED  collection tort10_nc SET unused = 'x'")
    assert(ch("SELECT count() AS n FROM file(tort10_nc)")
      .head().getLong(0) == 3L)
    // time-window scalars compose with GROUP BY and the events table
    assert(run("""
      SELECT tumbleStart(ts, INTERVAL 1 HOUR) AS w, count() AS n
      FROM events GROUP BY w ORDER BY w LIMIT 5""") > 0)
    // reinterpret chain: string -> number -> string roundtrip
    assert(ch("SELECT reinterpretAsString(reinterpretAsUInt32('abcd')) AS s")
      .head().getString(0) == "abcd")
    Seq("tort10_t", "tort10_p1", "tort10_p2").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    ch("DROP NAMED COLLECTION IF EXISTS tort10_nc")
  }

  test("round-11 statement forms survive hostile spacing and casing") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    spark.sql("DROP TABLE IF EXISTS tort11_t")
    ch("create   MATERIALIZED view tort11_t AS SELECT 1 AS a")
    // LIVE VIEW + WATCH with hostile casing/spacing; a literal
    // containing the keywords must not trip the dispatch
    ch("DROP VIEW IF EXISTS tort11_lv")
    ch("cReAtE   LiVe   ViEw tort11_lv AS SELECT sum(a) AS s, " +
      "'WATCH EVENTS LIMIT 5' AS trap FROM tort11_t")
    assert(ch("wAtCh   tort11_lv").collect().head
      .getAs[Long]("_version") == 1L)
    ch(s"INSERT INTO tort11_t VALUES (41)")
    assert(ch("WATCH tort11_lv   EVENTS   LIMIT   2").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // GRANT ... with Grant   Option casing; REVOKE the option form
    ch("DROP USER IF EXISTS tort11_u")
    ch("CREATE USER tort11_u")
    ch("gRaNt SELECT ON tort11_t TO tort11_u wItH   gRaNt   OpTiOn")
    assert(ch("SHOW GRANTS FOR tort11_u").collect()
      .exists(_.getString(0).endsWith("WITH GRANT OPTION")))
    ch("REVOKE   grant OPTION   FOR SELECT ON tort11_t FROM tort11_u")
    assert(ch("SHOW GRANTS FOR tort11_u").collect()
      .forall(!_.getString(0).contains("OPTION")))
    // parametric sweep-9 names under hostile spacing
    val t9 = ch("""SELECT topK( 2 )( CAST(n_regionkey AS STRING) ) AS t,
      uniqUpTo(3)(   n_regionkey   ) AS u FROM nation""").collect().head
    assert(t9.getSeq[String](0).length == 2 && t9.getLong(1) == 4L)
    ch("DROP VIEW IF EXISTS tort11_lv")
    ch("DROP USER IF EXISTS tort11_u")
    spark.sql("DROP TABLE IF EXISTS tort11_t")
  }

  test("round-12 forms survive hostile combinations: table functions " +
      "inside unions, custom TLD next to a string trap, fuzzy + " +
      "parametric aggregates in one statement") {
    def ch(s: String) = graft.sql.ClickHouseSql.sql(spark, s)
    graft.functions.TldLists.register("tort12", Seq("co.uk"))
    // a literal containing 'format(CSV, ' must NOT trip the resolver
    // (the table-function regex runs before the quote-split)
    val trap = ch("""SELECT 'format(CSV, ''1,2'') is text' AS s,
      c1 AS k FROM format(CSV, '7,x')""").collect().head
    assert(trap.getString(0).contains("format(CSV,"))
    assert(trap.getInt(1) == 7)
    // union of three inline tables + remote-localhost + null()
    val u = ch("""
      SELECT k FROM (
        SELECT c1 AS k FROM format(Values, '(1), (2)')
        UNION ALL SELECT CAST(a AS INT) AS k FROM format(JSONEachRow,
          '{"a": 3}')
        UNION ALL SELECT CAST(x AS INT) AS k FROM null('x Int64'))
      ORDER BY k""").collect().map(_.getInt(0)).toSeq
    assert(u == Seq(1, 2, 3))
    // hostile spacing on the new function names
    val f = ch("""SELECT
      cutToFirstSignificantSubdomainCustom(
        'https://a.b.co.uk/x'  ,   'tort12' ) AS cut,
      multiFuzzyMatchAnyIndex( 'abc' , 1 , array( 'abd' , 'zz' ) ) AS fz,
      quantilesExactWeighted( 0.5 )( CAST(n_regionkey AS DOUBLE),
        n_nationkey % 3 + 1 ) AS qw
      FROM nation GROUP BY 1, 2""").collect().head
    assert(f.getString(0) == "b.co.uk")
    assert(f.getLong(1) == 1L)
    assert(f.getSeq[Double](2).length == 1)
  }

  test("round-13 join spellings survive hostile forms: literals carrying " +
      "the keywords, conjunct-order permutations, hostile spacing") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    // a string literal containing 'ASOF JOIN' / 'PASTE JOIN' must NOT
    // trigger the rewrite (the applies() guard splits on quotes)
    val lit = ch("SELECT 'use ASOF JOIN or PASTE JOIN or ANY JOIN' AS s, " +
      "count() AS n FROM nation GROUP BY s").collect().head
    assert(lit.getString(0).contains("ASOF JOIN"))
    assert(lit.getLong(1) == 25L)
    // inequality conjunct FIRST, equality second; hostile spacing
    val a = ch("""
      SELECT user_id, r.ok AS ok FROM events   ASOF
        LEFT   JOIN ( SELECT o_custkey AS ck , o_orderdate AS od ,
          o_orderkey AS ok FROM orders ) r
        ON ts >= r.od AND user_id = r.ck
      ORDER BY user_id, event_id LIMIT 5""").collect()
    assert(a.length == 5)
    // ANY with the strictness token on either side of the kind
    val n1 = ch("SELECT count() AS n FROM orders ANY LEFT JOIN lineitem l " +
      "ON o_orderkey = l.l_orderkey").collect().head.getLong(0)
    val n2 = ch("SELECT count() AS n FROM orders LEFT ANY JOIN lineitem l " +
      "ON o_orderkey = l.l_orderkey").collect().head.getLong(0)
    val total = ch("SELECT count() AS n FROM orders").collect().head.getLong(0)
    assert(n1 == total && n2 == total,
      "ANY LEFT must keep exactly one row per left row")
    // anyLast()/anyHeavy() function names must not trip the ANY JOIN scan
    assert(ch("SELECT anyLast(n_name) AS x FROM nation").collect().length == 1)
    // GLOBAL ANY JOIN: the distributed-hint prefix composes
    assert(ch("SELECT count() AS n FROM orders GLOBAL ANY LEFT JOIN " +
      "lineitem l ON o_orderkey = l.l_orderkey").collect()
      .head.getLong(0) == total)
  }

  test("GROUPS frames: general rewrite handles unbounded/current-row " +
      "bounds, multiple windows, a WHERE, and rejects loudly outside the " +
      "supported shape") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    // peer-group running sum == the hand-derived per-value expectation:
    // with GROUPS UNBOUNDED PRECEDING..CURRENT ROW every row of the same
    // order value carries the FULL group's sum (unlike ROWS)
    val rows = ch("""
      SELECT n_regionkey AS r,
        CAST(SUM(n_nationkey) OVER (ORDER BY n_regionkey
          GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS rsum
      FROM nation ORDER BY r, rsum""").collect()
    val perRegion = spark.table("nation")
      .groupBy("n_regionkey").sum("n_nationkey")
      .collect().map(x => x.getAs[Number](0).longValue ->
        x.getAs[Number](1).longValue).toMap
    val expect = (0L to 4L).map(r =>
      r -> (0L to r).map(perRegion).sum).toMap
    assert(rows.forall(x => x.getLong(1) ==
      expect(x.getAs[Number](0).longValue)),
      "every row of a peer group must carry the whole group's sum")
    // two different GROUPS windows in one select list
    val two = ch("""
      SELECT n_nationkey,
        CAST(COUNT(*) OVER (ORDER BY n_regionkey
          GROUPS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peers,
        CAST(SUM(n_nationkey) OVER (PARTITION BY n_regionkey
          ORDER BY n_nationkey
          GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
      FROM nation ORDER BY n_nationkey""").collect()
    assert(two.forall(_.getLong(1) == 5L),
      "CURRENT ROW GROUPS frame = the whole peer group (5 nations/region)")
    // rejects: GROUP BY combo, and a GROUPS frame inside a subquery
    val e1 = intercept[Exception](ch(
      "SELECT n_regionkey, SUM(SUM(n_nationkey)) OVER (ORDER BY " +
        "n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x " +
        "FROM nation GROUP BY n_regionkey"))
    assert(e1.getMessage.contains("GROUPS frame"))
    val e2 = intercept[Exception](ch(
      "SELECT * FROM (SELECT SUM(n_nationkey) OVER (ORDER BY n_regionkey " +
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM nation) t"))
    assert(e2.getMessage.contains("top-level"))
    // a literal containing 'GROUPS BETWEEN' must not trigger the rewrite
    assert(ch("SELECT 'GROUPS BETWEEN a AND b' AS s FROM nation LIMIT 1")
      .collect().head.getString(0).contains("GROUPS BETWEEN"))
    // a star projection would silently leak the __grp_N helper columns
    // (round-14 ADVICE fix) — must reject loudly; `count(*)` inside the
    // window call and `a * b` arithmetic must NOT trip the check
    val e3 = intercept[Exception](ch(
      "SELECT *, SUM(n_nationkey) OVER (ORDER BY n_regionkey " +
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM nation"))
    assert(e3.getMessage.contains("SELECT *"))
    val ok = ch(
      "SELECT n_nationkey * 2 AS dbl, CAST(COUNT(*) OVER (ORDER BY " +
        "n_regionkey GROUPS BETWEEN CURRENT ROW AND CURRENT ROW) AS " +
        "BIGINT) AS peers FROM nation ORDER BY dbl LIMIT 1").collect()
    assert(ok.head.getLong(1) == 5L && ok.length == 1,
      "arithmetic * and count(*) must not be mistaken for a projection star")
  }

  test("lakehouse table-function spellings inside string literals never " +
      "fire (the resolvers scan literal-masked text)") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    val r = ch("SELECT 'use deltaLake(''/nope'') or hudi(''/nope'') or " +
      "iceberg(''/nope'') here' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(r.contains("deltaLake('/nope')") && r.contains("hudi('/nope')"),
      s"the literal must pass through untouched: $r")
    // round 14: the *Cluster spellings are rewrites too — same rule
    val r2 = ch("SELECT 'try icebergCluster(''c'', ''/nope'') or " +
      "deltaLakeCluster(''c'', ''/nope'')' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(r2.contains("icebergCluster('c', '/nope')"),
      s"cluster spellings in literals must pass through: $r2")
  }

  test("lakehouse MUTATION spellings inside string literals never fire " +
      "(the lanes anchor at statement start), and half-formed " +
      "statements do not dispatch a mutation") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    Tables.register(spark, sf)
    // a SELECT whose literal spells the whole mutation must pass
    // through as text — never committing anything
    val r = ch("SELECT 'DELETE FROM FUNCTION deltaLake(''/nope'') " +
      "WHERE 1=1 or ALTER TABLE FUNCTION iceberg(''/nope'') UPDATE " +
      "x = 1 WHERE 1=1' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(r.contains("DELETE FROM FUNCTION deltaLake('/nope')") &&
      r.contains("ALTER TABLE FUNCTION iceberg('/nope')"),
      s"mutation spellings in literals must pass through: $r")
    // an actual mutation against a non-table path is LOUD, not silent
    val e = intercept[Exception] {
      ch("DELETE FROM FUNCTION deltaLake('/tmp/graft_no_such_table_xyz') " +
        "WHERE 1 = 1")
    }
    assert(e.getMessage.contains("not a Delta table") ||
      e.getMessage.contains("_delta_log"))
    val e2 = intercept[Exception] {
      ch("ALTER TABLE FUNCTION iceberg('/tmp/graft_no_such_table_xyz') " +
        "DELETE WHERE 1 = 1")
    }
    assert(e2.getMessage.contains("not an Iceberg table"))
  }

  test("round-16 lanes survive hostile forms: table_changes inside a " +
      "literal never resolves, hostile spacing works, EXPIRE SNAPSHOTS " +
      "dispatches and its spelling inside a literal does not") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    import SparkTestBase.spark.implicits._
    Tables.register(spark, sf)
    // the spelling INSIDE a literal must pass through as text (the
    // resolver scans the literal-masked statement)
    val lit = ch("SELECT 'use table_changes(''/nope'', 1) or OPTIMIZE " +
      "TABLE FUNCTION iceberg(''/nope'') EXPIRE SNAPSHOTS KEEP 9' AS s " +
      "FROM nation LIMIT 1").collect().head.getString(0)
    assert(lit.contains("table_changes('/nope', 1)") &&
      lit.contains("EXPIRE SNAPSHOTS KEEP 9"),
      s"round-16 spellings in literals must pass through: $lit")
    // same for the VACUUM / CLEAN / RESTORE / ROLLBACK verbs — the
    // lanes anchor at statement start, so embedded spellings never
    // dispatch
    val lit2 = ch("SELECT 'RESTORE TABLE FUNCTION deltaLake(''/nope'') " +
      "TO VERSION 3; OPTIMIZE TABLE FUNCTION hudi(''/nope'') CLEAN " +
      "KEEP 2; hudi_changes(''/nope'', ''1''); " +
      "iceberg_changes(''/nope'', 5)' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(lit2.contains("TO VERSION 3") && lit2.contains("CLEAN KEEP 2") &&
      lit2.contains("hudi_changes('/nope', '1')") &&
      lit2.contains("iceberg_changes('/nope', 5)"))
    // half-formed maintenance statements do not dispatch a verb
    intercept[Exception] {
      ch("OPTIMIZE TABLE FUNCTION deltaLake('/tmp/graft_no_such_t') " +
        "VACUUM RETAIN 1 HOURS")
    }
    intercept[Exception] {
      ch("RESTORE TABLE FUNCTION deltaLake('/tmp/graft_no_such_t') " +
        "TO VERSION 1")
    }
    // a real CDF table read through hostile spacing/casing
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tort16").toString + "/t"
    try {
      graft.sources.DeltaLakeSink.append(
        Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir,
        checkpointInterval = 0)
      graft.sources.DeltaLakeSink.setTableProperties(spark, dir,
        Map("delta.enableChangeDataFeed" -> "true"))
      graft.sources.DeltaLakeSink.delete(spark, dir,
        org.apache.spark.sql.functions.col("id") === 2L,
        checkpointInterval = 0)
      val got = ch(s"SELECT id, _change_type FROM TABLE_CHANGES( " +
        s" '$dir' ,  2  ,  2 ) ORDER BY id")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((2L, "delete")))
      // EXPIRE SNAPSHOTS with hostile casing on an Iceberg table
      val iceDir = java.nio.file.Files
        .createTempDirectory("graft_tort16i").toString + "/t"
      graft.sources.IcebergSink.append(
        Seq((1L, "a")).toDF("id", "name"), iceDir)
      graft.sources.IcebergSink.overwrite(
        Seq((2L, "b")).toDF("id", "name"), iceDir)
      val exp = ch(s"optimize  TABLE   function  iceberg('$iceDir')  " +
        "expire SNAPSHOTS   keep 1").collect().head
      assert(exp.getLong(0) == 1L && exp.getLong(1) >= 1L,
        s"expire must report (1 expired, >0 deleted), got $exp")
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(iceDir).getParentFile)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir).getParentFile)
  }

  test("round-17 ARCHIVE verb: statement-anchored dispatch, hostile " +
      "casing works, the spelling inside a literal passes through") {
    val ch = (s: String) => graft.sql.ClickHouseSql.sql(spark, s)
    import SparkTestBase.spark.implicits._
    Tables.register(spark, sf)
    val lit = ch("SELECT 'OPTIMIZE TABLE FUNCTION hudi(''/nope'') " +
      "ARCHIVE KEEP 3' AS s FROM nation LIMIT 1")
      .collect().head.getString(0)
    assert(lit.contains("ARCHIVE KEEP 3"),
      s"the ARCHIVE spelling in a literal must pass through: $lit")
    intercept[Exception] {
      ch("OPTIMIZE TABLE FUNCTION hudi('/tmp/graft_no_such_t') " +
        "ARCHIVE KEEP 1")
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tort17").toString + "/t"
    try {
      val d = (k: String, v: String) => Seq((k, v))
        .toDF("_hoodie_record_key", "v")
      graft.sources.HudiSink.upsert(d("k1", "a"), dir)
      graft.sources.HudiSink.upsert(d("k1", "b"), dir)
      graft.sources.HudiSink.upsert(d("k1", "c"), dir)
      val res = ch(s"optimize TABLE  function   hudi('$dir')  " +
        "Archive   Keep 1").collect().head
      assert(res.getLong(0) == 2L, s"2 instants must archive, got $res")
      assert(graft.sources.HudiSource.read(spark, dir)
        .select("v").as[String].collect().toSeq == Seq("c"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir).getParentFile)
  }
}
