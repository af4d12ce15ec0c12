package graft

import graft.sql.{ChFunctionRegistry, ClickHouseSql}
import org.apache.spark.sql.Row

/** De-shadowed registry invariants:
  *   - install() must not replace a Spark built-in (no builder carries a
  *     built-in's name but monthname — ChRegistryLayoutSpec);
  *   - for every CH name Spark's built-in already serves, the built-in
  *     must deliver the CH semantics (parity assertions below — if a
  *     Spark upgrade drifts one of these, this suite is the tripwire);
  *   - the dialect layer covers the two deliberate non-registrations
  *     (zero-arg count(), CH any → any_value).
  */
class ChRegistrySpec extends SparkFunSuite {

  test("skipped builtins have CH-identical semantics") {
    ChFunctionRegistry.install(spark)
    val r = spark.sql("""
      SELECT hex('AB') AS h, unhex('4142') AS u,
        nullif(1, 1) AS nif, ifnull(NULL, 7) AS ifn,
        startswith('hello', 'he') AS sw, endswith('hello', 'lo') AS ew,
        lcase('AbC') AS lc, ucase('AbC') AS uc,
        cbrt(27.0) AS cb
      """).head()
    assert(r.getAs[String]("h") == "4142")
    assert(new String(r.getAs[Array[Byte]]("u")) == "AB")
    assert(r.isNullAt(r.fieldIndex("nif")))
    assert(r.getAs[Int]("ifn") == 7)
    assert(r.getAs[Boolean]("sw") && r.getAs[Boolean]("ew"))
    assert(r.getAs[String]("lc") == "abc" && r.getAs[String]("uc") == "ABC")
    assert(math.abs(r.getAs[Double]("cb") - 3.0) < 1e-12)
    // median = exact 0.5-quantile (CH median/quantileExact(0.5) semantics)
    val med = spark.sql("SELECT median(x) FROM VALUES (1.0),(2.0),(10.0) t(x)").head().getDouble(0)
    assert(med == 2.0)
    // printf = C-style format (printf.cpp); factorial caps at 20! and
    // nulls outside [0, 20] like the reference's throw-range
    val pf = spark.sql(
      "SELECT printf('%s=%d', 'n', 7) AS p, factorial(20) AS f, factorial(21) AS fo").head()
    assert(pf.getAs[String]("p") == "n=7")
    assert(pf.getAs[Long]("f") == 2432902008176640000L)
    assert(pf.isNullAt(pf.fieldIndex("fo")))
  }

  test("overrideBuiltins: monthName keeps reference full-name semantics") {
    ChFunctionRegistry.install(spark)
    // Spark 4's own monthname() abbreviates ('Mar'); the reference's
    // monthName (dateName month path) returns 'March' — override wins.
    assert(spark.sql("SELECT monthname(DATE'2024-03-15') AS m")
      .head().getAs[String]("m") == "March")
  }

  test("dialect rewrites cover count() and any()") {
    assert(ClickHouseSql.rewrite("SELECT count() FROM t")
      .contains("count(*)"))
    assert(ClickHouseSql.rewrite("SELECT any(x), anyLast(x) FROM t")
      .contains("any_value(x)"))
    // Spark's own `any` stays bool_or after install()
    ChFunctionRegistry.install(spark)
    val b = spark.sql("SELECT any(x) FROM VALUES (true),(false) t(x)").head().getBoolean(0)
    assert(b)
  }

  test("uniqState/uniqMerge: merged partial states equal the single pass") {
    ChFunctionRegistry.install(spark)
    Tables.register(spark, sf)
    // two-level: per-status states merged == one global sketch; both
    // within 5% of exact on a real high-cardinality column
    val merged = spark.sql("""
      WITH st AS (SELECT o_orderstatus, uniqState(o_custkey) sk
                  FROM orders GROUP BY o_orderstatus)
      SELECT uniqMerge(sk) FROM st""").head().getLong(0)
    val direct = spark.sql(
      "SELECT HLL_SKETCH_ESTIMATE(uniqState(o_custkey)) FROM orders")
      .head().getLong(0)
    val exact = spark.sql("SELECT COUNT(DISTINCT o_custkey) FROM orders")
      .head().getLong(0)
    assert(merged == direct, s"merge-of-states $merged != single-pass $direct")
    assert(math.abs(merged - exact).toDouble / exact < 0.05)
  }

  test("range() returns empty array for empty/negative ranges") {
    ChFunctionRegistry.install(spark)
    assert(spark.sql("SELECT range(0)").head().getSeq[Long](0).isEmpty)
    assert(spark.sql("SELECT range(3)").head().getSeq[Long](0) == Seq(0L, 1L, 2L))
    assert(spark.sql("SELECT range(5, 2)").head().getSeq[Long](0).isEmpty)
    assert(spark.sql("SELECT range(2, 5)").head().getSeq[Long](0) == Seq(2L, 3L, 4L))
  }

  test("toUInt8/16/32 wrap mod 2^N like the reference") {
    ChFunctionRegistry.install(spark)
    val r = spark.sql(
      "SELECT toUInt8(300) AS a, toUInt8(256) AS b, toUInt16(70000) AS c, toUInt32(4294967298) AS d").head()
    assert(r.getAs[Short]("a") == 44)
    assert(r.getAs[Short]("b") == 0)
    assert(r.getAs[Int]("c") == 4464)
    assert(r.getAs[Long]("d") == 2L)
  }

  test("CREATE FUNCTION lambda inlines through the dialect layer") {
    assert(ClickHouseSql.createFunction(
      "CREATE FUNCTION add_twice AS (x, y) -> x + 2 * y"))
    val out = ClickHouseSql.sql(spark,
      "SELECT add_twice(1, add_twice(2, 3)) AS v").head()
    // add_twice(2,3) = 8; add_twice(1, 8) = 17
    assert(out.getAs[Int]("v") == 17)
    ClickHouseSql.dropFunction("add_twice")
  }

  test("lambda inlining: argument texts colliding with parameter names") {
    ClickHouseSql.createFunction("CREATE FUNCTION gr_add AS (x, y) -> x + y")
    ClickHouseSql.createFunction(
      "CREATE FUNCTION gr_tag AS (x) -> concat('x=', CAST(x AS STRING))")
    try {
      // f(y, 1): the injected 'y' must NOT be rewritten by the y-parameter
      // pass (round-2 advice: expanded to ((1)) + (1) before the fix)
      val r = spark.sql(ClickHouseSql.rewrite(
        "SELECT gr_add(y, 1) AS a, gr_tag(y) AS t FROM VALUES (41) v(y)"))
        .head()
      assert(r.getInt(0) == 42)
      assert(r.getString(1) == "x=41") // literal 'x=' survives
    } finally {
      ClickHouseSql.dropFunction("gr_add")
      ClickHouseSql.dropFunction("gr_tag")
    }
  }

  test("asofJoinBackward works with STRING keys (round-1 bug)") {
    val s = spark
    import s.implicits._
    val left = Seq(("a", 10L), ("a", 20L), ("b", 10L)).toDF("k", "ts")
    val right = Seq(("a", 5L, 1.0), ("a", 15L, 2.0), ("b", 99L, 3.0))
      .toDF("k", "ts", "v")
    val out = graft.operators.JoinOps.asofJoinBackward(
      left, right, "k", "k",
      org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("ts"),
      Seq("v"), org.apache.spark.sql.functions.col("ts"))
      .orderBy("k", "ts").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1),
      Option(r.get(2)).map(_.toString).orNull)).toSeq ==
      Seq(("a", 10L, "1.0"), ("a", 20L, "2.0"), ("b", 10L, null)))
  }
}
