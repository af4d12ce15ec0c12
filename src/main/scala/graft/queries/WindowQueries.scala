package graft.queries

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Window-function surface (reference: WindowTransform,
  * src/Processors/Transforms/WindowTransform.h:59; dedicated functions
  * registered at WindowTransform.cpp:2652-2740). Spark's WindowExec computes
  * partitions after a shuffle on the PARTITION BY key — the same
  * partition-then-scan model as the reference's window transform.
  *
  * Scale note: no global (unpartitioned) ORDER BY windows, which would
  * serialize onto one task at 100 TB — and (the round-3 lesson) a
  * bounded-TINY partition key is just as bad: PARTITION BY a 3-value flag
  * serializes onto 3 tasks at any scale. Running/moving sums over such keys
  * go through operators.PrefixSum (bucketed distributed prefix sum with
  * broadcast carry offsets); high-cardinality keys (user_id, orderkey) may
  * use the plain window.
  */
object WindowQueries extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // rank/dense_rank/percent_rank over genuinely tied orderings
    // (WindowTransform.cpp:2652,2659,2668) — tie semantics are the test.
    // Round-17 optimization: rank/dense_rank/percent_rank over a 3-value
    // PARTITION BY is the same scale-killer the running-sum query fixed in
    // round 3 — the naive window serializes onto 3 tasks at ANY data size.
    // Ranks over (flag, qty) depend only on the (flag, qty) HISTOGRAM:
    // rank = 1 + count of strictly-smaller values (cumulative count minus
    // the value's own count), dense_rank = distinct-value position,
    // percent_rank = (rank−1)/(n−1) (0.0 for n=1, Spark's convention).
    // The histogram is a map-side-combinable aggregate (3×~50 rows at any
    // scale — l_quantity is a bounded-domain column); the serial window
    // now runs over ~150 rows instead of 600k, and the big table gets the
    // ranks back through one broadcast join. Oracle text unchanged.
    Q("q_win_rank_ties", (s, dir) => {
      Tables.register(s, dir)
      import org.apache.spark.sql.expressions.Window
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
      // Round-18 measured, left alone: fanning the histogram aggregate out
      // (exchange-reuse form, the q_agg_basic r17 move) REGRESSED
      // 1.39→1.68s min — the bounded-domain (flag, qty) key lets the
      // map-side combine collapse 600k rows to ~150 inside the scan task,
      // so the fan-out only adds a full-row exchange. Fan-out pays only
      // where per-row map work is heavy, not where the partial aggregate
      // already collapses the stream.
      val h = li.groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("__c"))
      val wOrd = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      val wAll = Window.partitionBy("l_returnflag")
      val ranks = h
        .withColumn("__cum", sum(col("__c")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .withColumn("rnk", (col("__cum") - col("__c") + 1).cast("int"))
        .withColumn("drnk", row_number().over(wOrd))
        .withColumn("prnk", round(when(col("__n") > 1,
            (col("rnk") - 1).cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(0.0), 6))
        .select(col("l_returnflag"), col("l_quantity"),
          col("rnk"), col("drnk"), col("prnk"))
      li.join(broadcast(ranks), Seq("l_returnflag", "l_quantity"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("rnk"), col("drnk"), col("prnk"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        RANK() OVER w AS rnk,
        DENSE_RANK() OVER w AS drnk,
        ROUND(PERCENT_RANK() OVER w, 6) AS prnk
      FROM lineitem
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
      ORDER BY l_orderkey, l_linenumber""")),

    // row_number + ntile need a total order per partition to be
    // deterministic (WindowTransform.cpp:2677,2684).
    Q.shared("q_win_row_number", """
      SELECT l_orderkey, l_linenumber,
        ROW_NUMBER() OVER w AS rn,
        NTILE(4) OVER w AS quartile
      FROM lineitem
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber)
      ORDER BY l_orderkey, l_linenumber"""),

    // lag/lead (lagInFrame/leadInFrame, WindowTransform.cpp:2698,2705).
    Q.sparkSql("q_win_lag_lead", """
      SELECT user_id, event_id,
        ROUND(LAG(value)  OVER w, 6) AS prev_value,
        ROUND(LEAD(value) OVER w, 6) AS next_value,
        ROUND(LAG(value, 2, -1.0) OVER w, 6) AS prev2_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",
      """
      SELECT user_id, event_id,
        ROUND(LAG(value)  OVER w, 6) AS prev_value,
        ROUND(LEAD(value) OVER w, 6) AS next_value,
        ROUND(LAG(value, 2, -1.0) OVER w, 6) AS prev2_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id"""),

    // Aggregates over ROWS frames — running totals are prefix decimal sums,
    // exact at every row (generic aggregate-over-window path in
    // WindowTransform).
    // NOTE: (l_orderkey, l_linenumber) is NOT unique in this corpus — the
    // window order adds l_partkey, l_extendedprice to reach a total order,
    // otherwise running sums are tie-order-dependent.
    // Scale: PARTITION BY l_returnflag has cardinality 3 — the naive window
    // is 3 serial tasks at any data size (the round-3 bench regression).
    // Implemented via operators.PrefixSum: 64 contiguous orderkey buckets ×
    // 3 flags of parallel local windows + broadcast carry offsets; the
    // oracle is the naive formulation, so the decomposition is value-pinned.
    Q.df("q_win_running_sum", """
      SELECT l_orderkey, l_linenumber, l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
          OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
          OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty_3
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""") { (s, dir) =>
      import graft.operators.PrefixSum
      val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
      // Round-17 measured, left alone: fanning out the scan before the
      // checkpoint ADDED ~0.15s — localCheckpoint block reads are same-JVM
      // memcpy in local mode, so the extra exchange buys nothing here.
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"), col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("__qd"))
      val both = PrefixSum.runningAndMoving(li, Seq("l_returnflag"), ord,
        "l_orderkey", col("__qd"), frameRows = 3, "__run", "__mov",
        buckets = 64)
      // Round-18 (guide §2.4): the operator now emits partition-ordered by
      // ord (its window exchange is a RANGE partition on the monotone
      // bucket), so the global ORDER BY collapses to a per-partition sort —
      // the former second full-table range exchange is gone. Row order of
      // the collected/dumped result is unchanged (pinned in PrefixSumSpec).
      both.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("__run").cast("double").as("running_qty"),
          col("__mov").cast("double").as("moving_qty_3"),
          col("l_extendedprice"))
        .sortWithinPartitions(ord: _*)
        .drop("l_extendedprice")
    },

    // RANGE frame over a numeric ordering: 1-hour trailing sum per user
    // (frame spec reference: src/Interpreters/WindowDescription.h:30-40).
    Q.sparkSql("q_win_range_frame", """
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
          OVER (PARTITION BY user_id ORDER BY UNIX_MICROS(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
      FROM events
      ORDER BY user_id, event_id""",
      """
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
          OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
      FROM events
      ORDER BY user_id, event_id"""),

    // first_value / last_value / nth_value with explicit full frame
    // (WindowTransform.cpp:2691).
    Q.shared("q_win_first_last_nth", """
      SELECT o_orderkey,
        FIRST_VALUE(o_orderkey) OVER w AS first_key,
        LAST_VALUE(o_orderkey)  OVER w AS last_key,
        NTH_VALUE(o_orderkey, 2) OVER w AS second_key
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_orderkey"""),

    // Partition-only window (no ORDER BY): group stats joined back to rows
    // without a self-join.
    Q.shared("q_win_partition_stats", """
      SELECT o_orderkey,
        CAST(o_totalprice AS DOUBLE) AS price,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS prio_total,
        COUNT(*) OVER (PARTITION BY o_orderpriority) AS prio_n
      FROM orders
      ORDER BY o_orderkey"""),

    // QUALIFY-style filter on a window result (reference: QUALIFY clause,
    // src/Parsers/ASTSelectQuery.h:30) — spelled as a subquery filter, the
    // rewrite our dialect layer applies.
    Q.shared("q_win_qualify", """
      SELECT user_id, event_id, rn FROM (
        SELECT user_id, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events) t
      WHERE rn <= 3
      ORDER BY user_id, rn"""),

    // The actual QUALIFY keyword (round 10): the dialect rewrites it to
    // the analyzer wrap (inject the predicate as a computed column over
    // the core, filter, project it away via * EXCEPT); the trailing
    // ORDER BY stays outside. DuckDB speaks QUALIFY natively — the
    // SAME text is the oracle.
    Q(s"q_ch_qualify", (s, dir) => {
      graft.Tables.register(s, dir)
      graft.sql.ClickHouseSql.sql(s, """
        SELECT user_id, event_id,
          row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events
        QUALIFY rn <= 2
        ORDER BY user_id, rn""")
    }, Some("""
      SELECT user_id, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
      FROM events
      QUALIFY rn <= 2
      ORDER BY user_id, rn""")),

    // nonNegativeDerivative (WindowTransform.cpp:2740) as expression rewrite:
    // (v - lag(v)) / seconds-elapsed, clamped at 0.
    Q.sparkSql("q_win_nonneg_derivative", """
      SELECT user_id, event_id,
        ROUND(GREATEST(COALESCE((value - LAG(value) OVER w)
          / (CAST(UNIX_MICROS(ts) - LAG(UNIX_MICROS(ts)) OVER w AS DOUBLE) / 1000000.0), 0.0), 0.0), 6) AS rate
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",
      """
      SELECT user_id, event_id,
        ROUND(GREATEST(COALESCE((value - LAG(value) OVER w)
          / (CAST(EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w AS DOUBLE) / 1000000.0), 0.0), 0.0), 6) AS rate
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id"""),

    // GROUPS window frames (WindowDescription.h:32; Spark lacks GROUPS) —
    // emulated by pre-aggregating per (partition, order value) and running
    // a ROWS frame over the per-value table, then weighting back. The
    // oracle (DuckDB here lacks GROUPS too) derives each distinct value's
    // frame sum independently via LAG over the per-value sums.
    Q.df("q_win_groups_frame", """
      WITH r AS (SELECT l_returnflag AS f, CAST(l_shipdate AS DATE) AS d,
                   CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
                 FROM lineitem),
      pd AS (SELECT f, d, SUM(qc) AS dqc, COUNT(*) AS cnt FROM r GROUP BY f, d),
      w AS (SELECT f, cnt,
              dqc + COALESCE(LAG(dqc) OVER (PARTITION BY f ORDER BY d), 0) AS gs
            FROM pd)
      SELECT f AS l_returnflag, CAST(MAX(gs) AS BIGINT) AS max_gs,
        CAST(MIN(gs) AS BIGINT) AS min_gs,
        CAST(SUM(gs * cnt) AS BIGINT) AS total_gs
      FROM w GROUP BY f ORDER BY f""") { (s, dir) =>
      val r = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_shipdate").cast("date").as("d"),
          round(col("l_quantity") * 100).cast("long").as("qc"))
      val perDate = r.groupBy("f", "d")
        .agg(sum("qc").as("dqc"), count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("d")
        .rowsBetween(-1, org.apache.spark.sql.expressions.Window.currentRow)
      val gs = perDate.withColumn("gs", sum("dqc").over(w))
      // total_gs lands as BIGINT on BOTH engines: DuckDB's SUM(BIGINT) is
      // HUGEINT and Spark's decimal(38,0) stringifies without the ".0" a
      // float-converted HUGEINT gains in the oracle gate's hash — the hash
      // mismatch was repr skew, not a value difference. The product sum
      // fits int64 past sf100 (~1e13 at sf100 vs 9.2e18 max).
      gs.groupBy(col("f").as("l_returnflag"))
        .agg(max("gs").cast("long").as("max_gs"),
          min("gs").cast("long").as("min_gs"),
          sum(col("gs") * col("cnt")).cast("long").as("total_gs"))
        .orderBy("l_returnflag")
    }
  )
}
