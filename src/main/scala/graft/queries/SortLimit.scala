package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.operators.SortLimitOps
import org.apache.spark.sql.functions._

/** Sort / limit / fill operator battery (reference: SortingStep,
  * LimitTransform, OffsetTransform, LimitByTransform, FillingTransform —
  * SURVEY §2.6).
  */
object SortLimit extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // Multi-key sort with synthesized NULLs and explicit NULLS FIRST/LAST
    // (reference: NULLs direction in SortDescription, src/Core/SortDescription.h).
    Q.shared("q_sort_nulls", """
      SELECT o_orderkey,
        NULLIF(o_orderstatus, 'P') AS status_or_null,
        CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      ORDER BY NULLIF(o_orderstatus, 'P') NULLS FIRST,
               o_totalprice DESC, o_orderkey
      LIMIT 200"""),

    // LIMIT ... OFFSET (reference: LimitTransform + OffsetTransform).
    Q.shared("q_limit_offset", """
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      ORDER BY o_orderkey
      LIMIT 50 OFFSET 100"""),

    // LIMIT WITH TIES via the rank rewrite (LimitTransform with_ties) —
    // DataFrame impl through SortLimitOps.limitWithTies; oracle spells the
    // same rank()-rewrite.
    Q.df("q_limit_with_ties", """
      SELECT l_quantity FROM (
        SELECT l_quantity, RANK() OVER (ORDER BY l_quantity) AS rk
        FROM lineitem) t
      WHERE rk <= 100
      ORDER BY l_quantity""") { (s, dir) =>
      SortLimitOps.limitWithTies(
        Tables.load(s, dir, "lineitem").select(col("l_quantity")),
        100, Seq(col("l_quantity")))
        .orderBy("l_quantity")
    },

    // LIMIT n BY key (LimitByTransform): 2 most recent events per user.
    Q.df("q_limit_by", """
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events) t
      WHERE rn <= 2
      ORDER BY user_id, event_id""") { (s, dir) =>
      SortLimitOps.limitBy(
        Tables.load(s, dir, "events").select(col("user_id"), col("event_id"), col("ts")),
        2, Seq(col("user_id")), Seq(col("ts").desc, col("event_id")))
        .select("user_id", "event_id")
        .orderBy("user_id", "event_id")
    },

    // ORDER BY ... WITH FILL (FillingTransform): dense 0..49 part-size axis,
    // missing sizes filled with zero counts.
    Q.df("q_with_fill_int", """
      SELECT s.p_size, COALESCE(t.n, 0) AS n
      FROM (SELECT CAST(RANGE AS INT) AS p_size FROM RANGE(0, 50)) s
      LEFT JOIN (SELECT p_size, COUNT(*) AS n FROM part WHERE p_retailprice > 1500.0 GROUP BY p_size) t
      USING (p_size)
      ORDER BY s.p_size""") { (s, dir) =>
      val counts = Tables.load(s, dir, "part")
        .filter(col("p_retailprice") > 1500.0)
        .groupBy(col("p_size")).agg(count(lit(1)).as("n"))
      SortLimitOps.withFillLong(counts.withColumn("p_size", col("p_size").cast("long")), "p_size", 0L, 50L, 1L)
        .select(col("p_size").cast("int").as("p_size"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("p_size")
    },

    // WITH FILL over a month axis + INTERPOLATE-style carry-forward
    // (reference: FillingTransform + InterpolateDescription) — months with
    // no orders take the previous month's running value via last(ignoreNulls).
    Q.df("q_with_fill_months", """
      WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders WHERE o_custkey <= 30 GROUP BY 1)
      SELECT axis.m, COALESCE(n, 0) AS n,
        COALESCE(revenue, 0.0) AS revenue
      FROM (SELECT UNNEST(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS m) axis
      LEFT JOIN monthly USING (m)
      ORDER BY axis.m""") { (s, dir) =>
      val monthly = Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 30)
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      SortLimitOps.withFillMonths(monthly, "m", "1995-01-01", "2001-08-01")
        .select(col("m"), coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy("m")
    },

    // Deterministic sample analog (reference: SAMPLE k,
    // MergeTreeDataSelectExecutor.h:218 — deterministic by sampling key):
    // hash(key) band filter, reproducible across engines via modulo.
    Q.shared("q_sample_by_key", """
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderkey % 10 = 3"""),

    // WITH FILL + INTERPOLATE carry-forward (FillingTransform +
    // InterpolateDescription): missing months take the last seen value.
    Q.df("q_fill_interpolate", """
      WITH monthly AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS m,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders WHERE o_custkey <= 30 GROUP BY 1),
      axis AS (SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '1995-01-01',
                 TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS m)
      SELECT axis.m,
        COALESCE(revenue,
          LAST_VALUE(revenue IGNORE NULLS) OVER (ORDER BY axis.m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS revenue
      FROM axis LEFT JOIN monthly USING (m)
      ORDER BY axis.m""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 30)
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      val filled = graft.operators.SortLimitOps
        .withFillMonths(monthly, "m", "1995-01-01", "2001-08-01")
      val w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
      filled.select(col("m"),
        coalesce(col("revenue"), last(col("revenue"), ignoreNulls = true).over(w),
          lit(0.0)).as("revenue"))
        .orderBy("m")
    },

    // Collation-style case-insensitive ordering (src/Columns/Collator.cpp)
    // rendered as an explicit collation key.
    Q.shared("q_collation_sort", """
      SELECT p_partkey, p_name
      FROM part
      ORDER BY LOWER(p_name), p_partkey
      LIMIT 300""")
  )
}
