package graft.queries

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** TPC-H-shaped relational battery: scan → filter → join → aggregate →
  * sort → limit, the workload the reference's query plan pipeline serves
  * (reference: src/Processors/QueryPlan/ — ReadFromMergeTree, JoinStep,
  * AggregatingStep, SortingStep, LimitStep).
  *
  * Queries are declarative SQL/DataFrame plans: Catalyst provides predicate
  * pushdown to parquet, column pruning, join reordering and AQE — the Spark
  * analogs of the reference's optimizeTree passes
  * (src/Processors/QueryPlan/Optimizations/Optimizations.h:104-142).
  *
  * Scale notes (100 TB design review):
  *   - dimension tables (region/nation/supplier/part/customer) stay below the
  *     broadcast threshold at any realistic scale-up of this schema; fact-fact
  *     joins (orders⋈lineitem) shuffle on the join key, which AQE re-plans at
  *     runtime (skew join + coalesced partitions).
  *   - all filters are sargable and reach the parquet scan (PushedFilters),
  *     so scan cost tracks selectivity, not table size.
  */
object Relational extends QueryPack {

  /** TPC-H Q1-shaped: the flagship pricing-summary aggregation.
    * Reference operator: AggregatingStep two-level hash agg
    * (src/Interpreters/Aggregator.h:82) — in Spark: partial/final hash
    * aggregate around one shuffle on the 6-value grouping key. */
  val q1Sql: String = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  override def queries: Seq[Q] = Seq(
    // Round-17 optimization: same aggregation, but fanned out after the
    // pushed-down filter — the corpus table is a single parquet row group,
    // so the SQL form fused the 600k-row 6-sum decimal partial aggregate
    // into a ONE-task scan stage (guide §2.5 "input skew: one huge
    // unsplittable file ... repartition immediately after the read";
    // measured 1.48s → see OPTIMIZATION_r17.md). fanOutIfTiny is the
    // identity at cluster scale, where splits already cover the cores.
    // Expressions are copied verbatim from q1Sql — the oracle is unchanged.
    Q("q1_pricing_summary", (s, dir) => {
      Tables.register(s, dir)
      import graft.operators.ScaleOps
      val li = Tables.load(s, dir, "lineitem")
        .where("l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'")
      ScaleOps.fanOutIfTiny(li, col("l_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_base_price"),
          expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)").as("sum_disc_price"),
          expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE)").as("sum_charge"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)").as("avg_qty"),
          expr("CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)").as("avg_disc"),
          expr("COUNT(*)").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(q1Sql)),

    // Selective filter + sum, no grouping (reference: FilterTransform +
    // single-key Aggregator). Filter is fully pushed to parquet row groups.
    Q.shared("q6_forecast_revenue", """
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24"""),

    // 3-way join + group + top-N (TPC-H Q3 shape): shuffle joins on the fact
    // side, TakeOrderedAndProject fuses sort+limit (reference analog:
    // tryPushDownLimit, src/Processors/QueryPlan/Optimizations/Optimizations.h:50).
    Q.shared("q3_shipping_priority", """
      SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        o_orderdate, o_orderpriority
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
        AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10"""),

    // EXISTS correlated semi-join (reference: JoinStrictness::Semi,
    // src/Core/Joins.h:44) — Catalyst plans a left-semi hash join.
    Q.shared("q4_order_priority", """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // 6-way snowflake join (TPC-H Q5 shape). Dimensions broadcast; the
    // orders⋈lineitem fact join shuffles on orderkey.
    // Round-17 optimization: with every dimension broadcast, ALL five hash
    // joins + the partial aggregate fused into the lineitem scan stage —
    // one task on the single-row-group corpus file (guide §2.5). Fan the
    // fact side out after the read; identity at cluster scale. Join tree,
    // predicates and aggregate expressions verbatim from the oracle SQL.
    Q("q5_local_supplier_volume", (s, dir) => {
      Tables.register(s, dir)
      import graft.operators.ScaleOps
      val li = ScaleOps.fanOutIfTiny(
        Tables.load(s, dir, "lineitem"), col("l_orderkey"))
      val ord = Tables.load(s, dir, "orders")
        .where("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")
      Tables.load(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").where("r_name = 'ASIA'"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(expr("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) " +
          "AS DECIMAL(18,6))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, Some("""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")),

    // Returned-items report (TPC-H Q10 shape): join + group + top-N.
    Q.shared("q10_returned_items", """
      SELECT c_custkey, c_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        CAST(c_acctbal AS DOUBLE) AS acctbal, n_name
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""),

    // LEFT OUTER join + two-level aggregation (TPC-H Q13 shape): count
    // distribution; exercises outer-join null padding then re-aggregation.
    Q.shared("q13_customer_distribution", """
      SELECT c_count, COUNT(*) AS custdist
      FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""),

    // Conditional aggregation (reference: -If combinator semantics,
    // src/AggregateFunctions/Combinators/AggregateFunctionIf.cpp):
    // sumIf(x, cond) == SUM(CASE WHEN cond THEN x ELSE 0 END).
    Q.shared("q14_promo_effect", """
      SELECT
        CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'"""),

    // IN-subquery with HAVING (TPC-H Q18 shape; reference: PreparedSets /
    // CreatingSetsTransform → Catalyst InSubquery → left-semi join).
    // Round-17 optimization: the IN-subquery's 600k-row orderkey partial
    // aggregate AND the main join chain both fused into single-task scan
    // stages of the one-row-group corpus file (guide §2.5). One fan-out
    // feeds both consumers (the exchange is reused); the semi join applies
    // to orders before the fact join, where the optimizer put it anyway.
    // Identity at cluster scale; oracle SQL unchanged.
    Q("q18_large_volume_customer", (s, dir) => {
      Tables.register(s, dir)
      import graft.operators.ScaleOps
      val li = ScaleOps.fanOutIfTiny(
        Tables.load(s, dir, "lineitem"), col("l_orderkey"))
      val big = li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__sq"))
        .filter(col("__sq") > 300)
        .select(col("l_orderkey").as("__bigkey"))
      val ord = Tables.load(s, dir, "orders")
        .join(big, col("o_orderkey") === col("__bigkey"), "left_semi")
      Tables.load(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "o_totalprice")
        .agg(expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_qty"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"),
          col("o_totalprice").cast("double").as("totalprice"),
          col("sum_qty"))
        .orderBy(col("totalprice").desc, col("o_orderkey"))
        .limit(100)
    }, Some("""
      SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        CAST(o_totalprice AS DOUBLE) AS totalprice,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
      ORDER BY totalprice DESC, o_orderkey
      LIMIT 100""")),

    // Scalar subquery + NOT EXISTS anti-join (TPC-H Q22 shape; reference:
    // JoinStrictness::Anti).
    Q.shared("q22_global_sales_opportunity", """
      SELECT cntrycode, COUNT(*) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM (
        SELECT c_nationkey % 10 AS cntrycode, c_acctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ) custsale
      GROUP BY cntrycode
      ORDER BY cntrycode"""),

    // Plain cross join (reference: JoinKind::Cross, src/Core/Joins.h:12).
    Q.shared("q_cross_join", """
      SELECT r_name, n_name
      FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""),

    // ROLLUP (reference: RollupTransform,
    // src/Processors/Transforms/RollupTransform.h:40).
    Q.shared("q_rollup", """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // CUBE (reference: CubeTransform, src/Processors/Transforms/CubeTransform.h:13).
    Q.shared("q_cube", """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // GROUPING SETS incl. the global set — the reference's WITH TOTALS
    // (src/Processors/Transforms/TotalsHavingTransform.h:22) is exactly the
    // grouping-sets union with the empty set.
    Q.shared("q_with_totals", """
      SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), ())
      ORDER BY l_returnflag NULLS FIRST"""),

    // The literal `WITH TOTALS` keyword (round 10): the dialect rewrites
    // GROUP BY k WITH TOTALS to the global grouping set; the NULL-keyed
    // extra row is the totals block. DuckDB oracle states the
    // grouping-sets spelling.
    graft.Q("q_ch_with_totals", (s, dir) => {
      graft.Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        SELECT l_returnflag,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag WITH TOTALS
        ORDER BY l_returnflag NULLS FIRST""")
    }, Some("""
      SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), ())
      ORDER BY l_returnflag NULLS FIRST""")),

    // WITH-clause CTE reuse (reference: CTEs resolved in QueryAnalysisPass).
    Q.shared("q_cte_reuse", """
      WITH big_orders AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_totalprice > 200000.0)
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM big_orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""),

    // Self-join on the fact table: consecutive line numbers of one order.
    Q.shared("q_self_join", """
      SELECT a.l_orderkey, a.l_linenumber,
        CAST(a.l_quantity AS DOUBLE) AS qty,
        CAST(b.l_quantity AS DOUBLE) AS next_qty
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND b.l_linenumber = a.l_linenumber + 1
      ORDER BY a.l_orderkey, a.l_linenumber
      LIMIT 500"""),

    // Recursive CTE (src/Processors/QueryPlan/ReadFromRecursiveCTEStep.h):
    // Spark has no recursive CTE — rendered as a driver-side fixpoint loop
    // of DataFrame unions (each iteration is still a distributed job).
    // Computes 1..10 factorial-ish chain: path lengths in a key graph.
    Q.df("q_recursive_cte", """
      WITH RECURSIVE r(n, fact) AS (
        SELECT 1, CAST(1 AS BIGINT)
        UNION ALL
        SELECT n + 1, fact * (n + 1) FROM r WHERE n < 10)
      SELECT n, fact FROM r ORDER BY n""") { (s, _) =>
      import s.implicits._
      var acc = Seq((1, 1L)).toDF("n", "fact")
      var frontier = acc
      var done = false
      var iter = 0
      val maxIter = 1000 // fixpoint guard, like the reference's
                         // max_recursive_cte_evaluation_depth setting
      while (!done && iter < maxIter) {
        iter += 1
        val next = frontier.filter(col("n") < 10)
          .select((col("n") + 1).as("n"), (col("fact") * (col("n") + 1)).as("fact"))
        if (next.isEmpty) done = true
        else {
          acc = acc.unionByName(next); frontier = next
          // truncate lineage every few iterations: an unbounded union chain
          // makes the plan (and each isEmpty job) grow quadratically deep
          if (iter % 8 == 0) acc = acc.localCheckpoint()
        }
      }
      acc.orderBy("n")
    }
  )

  /** DataFrame-API twin of Q5 used as the `SparkEntry.entry` flagship:
    * demonstrates the idiomatic Dataset plan with explicit broadcast of
    * dimension tables (at 100 TB the facts shuffle, the dims never do). */
  def q5DataFrame(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val supplier = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(supplier),
        lineitem("l_suppkey") === supplier("s_suppkey") &&
          customer("c_nationkey") === supplier("s_nationkey"))
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .filter(region("r_name") === "ASIA" &&
        orders("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        orders("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .groupBy(nation("n_name"))
      .agg(sum((lineitem("l_extendedprice") * (lit(1) - lineitem("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }
}
