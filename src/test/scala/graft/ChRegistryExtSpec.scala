package graft

import graft.sql.{ChDateTime, ChFunctionRegistry, ClickHouseSql}
import org.apache.spark.sql.Row

/** Edge semantics of the extension-wave registries (Ext/UrlDate/Misc)
  * that the literal batteries don't pin: error paths, range validation,
  * format translation, and the ARRAY JOIN clause rewrite text. */
class ChRegistryExtSpec extends SparkFunSuite {

  private def one(sql: String): Row = {
    ChFunctionRegistry.install(spark)
    spark.sql(sql).head()
  }

  test("accurateCast throws on overflow; OrNull returns typed NULL") {
    ChFunctionRegistry.install(spark)
    intercept[Exception] {
      spark.sql("SELECT accurateCast(70000, 'Int16')").collect()
    }
    val r = one("SELECT accurateCastOrNull(70000, 'Int16') AS x")
    assert(r.isNullAt(0))
    // wrapper type sugar unwraps
    val n = one("SELECT accurateCastOrNull(7, 'Nullable(Int16)') AS x")
    assert(n.getShort(0) == 7)
  }

  test("unsigned OrNull range-validates instead of wrapping") {
    val r = one("""
      SELECT toUInt8OrNull('255') AS ok, toUInt8OrNull('256') AS over,
             toUInt8OrNull('-1') AS neg, toUInt16OrZero('65536') AS z""")
    assert(r.getShort(0) == 255 && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getInt(3) == 0)
  }

  test("mysqlToJava quotes literal text so pattern letters cannot leak") {
    assert(ChDateTime.mysqlToJava("%Y year") == "yyyy' year'")
    assert(ChDateTime.mysqlToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(ChDateTime.mysqlToJava("%H:%i:%S") == "HH:mm:ss")
    assert(ChDateTime.mysqlToJava("100%%") == "100%")
    val r = one("""SELECT formatDateTime(TIMESTAMP'2024-03-15 00:00:00',
      '%Y year, day %j') AS s""")
    assert(r.getString(0) == "2024 year, day 075")
  }

  test("snowflake codec roundtrips") {
    val r = one("""
      SELECT snowflakeToDateTime(dateTimeToSnowflake(
        TIMESTAMP'2021-08-15 18:57:56')) AS rt""")
    assert(r.getTimestamp(0).toString.startsWith("2021-08-15"))
  }

  test("gcd/lcm handle negatives and zero like BigInteger") {
    val r = one("""SELECT gcd(-12, 18) AS g, lcm(-4, 6) AS l,
      gcd(0, 0) AS gz""")
    assert(r.getLong(0) == 6L && r.getLong(1) == 12L && r.getLong(2) == 0L)
  }

  test("ARRAY JOIN rewrite produces LATERAL VIEW text") {
    val t = ClickHouseSql.rewrite("SELECT v FROM t ARRAY JOIN vs AS v")
    assert(t.contains("LATERAL VIEW EXPLODE(vs) _aj1 AS v"))
    val l = ClickHouseSql.rewrite("SELECT vs FROM t LEFT ARRAY JOIN vs")
    assert(l.contains("LATERAL VIEW OUTER EXPLODE(_aj_src_vs)"))
    assert(l.contains("* EXCEPT (vs)"))
    val z = ClickHouseSql.rewrite(
      "SELECT v, w FROM t ARRAY JOIN a AS v, b AS w WHERE v > 0")
    assert(z.contains("POSEXPLODE(a) _aj1 AS _aj_pos, v"))
    assert(z.contains("ELEMENT_AT(b, _aj_pos + 1)"))
    assert(z.contains("WHERE v > 0"))
  }

  test("SAMPLE fraction rewrites to a repeatable TABLESAMPLE") {
    val t = ClickHouseSql.rewrite("SELECT * FROM orders SAMPLE 0.1")
    assert(t.contains("TABLESAMPLE (10 PERCENT) REPEATABLE (42)"))
    Tables.register(spark, sf)
    val c1 = ClickHouseSql.sql(spark,
      "SELECT count() AS n FROM orders SAMPLE 0.5").head().getLong(0)
    val c2 = ClickHouseSql.sql(spark,
      "SELECT count() AS n FROM orders SAMPLE 0.5").head().getLong(0)
    assert(c1 == c2 && c1 > 0)
  }

  test("SAMPLE fraction is exact decimal, not a truncated binary float") {
    // 0.29*100 = 28.999... as doubles; toInt truncated it to 28 PERCENT
    val t = ClickHouseSql.rewrite("SELECT * FROM orders SAMPLE 0.29")
    assert(t.contains("TABLESAMPLE (29 PERCENT)"), t)
    val t2 = ClickHouseSql.rewrite("SELECT * FROM orders SAMPLE 0.125")
    assert(t2.contains("TABLESAMPLE (12.5 PERCENT)"), t2)
  }

  test("DISTINCT ON composes with a trailing LIMIT/OFFSET") {
    Tables.register(spark, sf)
    val rows = ClickHouseSql.sql(spark, """
      SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey
      FROM orders ORDER BY o_orderpriority, o_orderkey LIMIT 3""").collect()
    assert(rows.length == 3, s"got ${rows.length} rows")
    // per-key dedup happened BEFORE the limit: priorities are distinct
    assert(rows.map(_.getString(0)).distinct.length == 3)
    // LIMIT n BY k LIMIT m (CH clause order) also composes
    val r2 = ClickHouseSql.sql(spark, """
      SELECT o_orderpriority, o_orderkey FROM orders
      ORDER BY o_orderpriority, o_orderkey LIMIT 2 BY o_orderpriority LIMIT 4""").collect()
    assert(r2.length == 4)
  }

  test("isIPv6String validates structure, not just the character set") {
    ChFunctionRegistry.install(spark)
    val good = Seq("2001:db8::ff00:42:8329", "::1", "::",
      "2001:db8:1:2:3:4:5:6", "fe80::1", "::ffff:192.0.2.1")
    val bad = Seq("1:2:3", ":::::", "1::2::3", "2001:db8:1:2:3:4:5:6:7",
      "g001::1", "192.168.0.1", "")
    for (s <- good)
      assert(spark.sql(s"SELECT isIPv6String('$s')").head().getBoolean(0), s)
    for (s <- bad)
      assert(!spark.sql(s"SELECT isIPv6String('$s')").head().getBoolean(0), s)
  }

  test("DDL type translation covers wrappers, arrays, maps, decimals") {
    assert(ClickHouseSql.sparkTypeText("Nullable(Int64)") == "BIGINT")
    assert(ClickHouseSql.sparkTypeText("Array(LowCardinality(String))") == "ARRAY<STRING>")
    assert(ClickHouseSql.sparkTypeText("Map(String, UInt32)") == "MAP<STRING, BIGINT>")
    assert(ClickHouseSql.sparkTypeText("Decimal64(4)") == "DECIMAL(18, 4)")
    assert(ClickHouseSql.sparkTypeText("FixedString(16)") == "STRING")
    assert(ClickHouseSql.sparkTypeText("Enum8('a' = 1, 'b' = 2)") == "STRING")
    assert(ClickHouseSql.sparkTypeText("DateTime64(3)") == "TIMESTAMP")
    val ddl = graft.sql.TableLedger.parseCreate(
      "CREATE TABLE t (d Date, n UInt64 DEFAULT 0) ENGINE = MergeTree " +
        "PARTITION BY d ORDER BY n").get.ddl
    assert(ddl == "CREATE TABLE t (d DATE, n DECIMAL(20, 0)) USING parquet " +
      "PARTITIONED BY (d)")
  }

  test("EXPLAIN SYNTAX shows the dialect rewrite; EXPLAIN returns a plan") {
    Tables.register(spark, sf)
    val syn = ClickHouseSql.sql(spark,
      "EXPLAIN SYNTAX SELECT v FROM orders ARRAY JOIN a AS v").head().getString(0)
    assert(syn.contains("LATERAL VIEW"))
    val plan = ClickHouseSql.sql(spark,
      "EXPLAIN SELECT count() FROM orders").collect().map(_.getString(0)).mkString
    assert(plan.contains("Physical Plan"))
  }

  test("OPTIMIZE TABLE and SET statements are accepted") {
    Tables.register(spark, sf)
    assert(ClickHouseSql.sql(spark, "OPTIMIZE TABLE orders FINAL")
      .head().getString(0) == "OK")
    assert(ClickHouseSql.sql(spark, "SET max_threads = 8")
      .head().getString(0) == "OK")
    assert(spark.conf.get("graft.ch.max_threads") == "8")
  }

  test("RENAME TABLE maps to ALTER TABLE RENAME") {
    Tables.register(spark, sf)
    spark.sql("DROP TABLE IF EXISTS graft_rn_a")
    spark.sql("DROP TABLE IF EXISTS graft_rn_b")
    for (n <- Seq("graft_rn_a", "graft_rn_b")) {
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), n)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    spark.sql("CREATE TABLE graft_rn_a USING parquet AS SELECT 1 AS x")
    ClickHouseSql.sql(spark, "RENAME TABLE graft_rn_a TO graft_rn_b")
    assert(spark.table("graft_rn_b").count() == 1)
    spark.sql("DROP TABLE IF EXISTS graft_rn_b")
  }

  test("URL parts survive scheme-less and parameterless inputs") {
    val r = one("""
      SELECT domain('example.com/x') AS d,
             queryString('https://a.b/c') AS q,
             arrayStringConcat(extractURLParameters('https://a.b/c'), '|') AS eps,
             CAST(port('https://a.b/c') AS INT) AS p""")
    assert(r.getString(0) == "example.com")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "")
    assert(r.getInt(3) == 0)
  }
}
