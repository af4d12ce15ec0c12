package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.functions.aggregates.CustomAggregates
import org.apache.spark.sql.functions._

/** Aggregate-function surface parity (reference: 192 registrations in
  * src/AggregateFunctions/registerAggregateFunctions.cpp). Built-ins cover
  * the classical families; the behavioral/sketch families are custom
  * `Aggregator`s in graft.functions.aggregates.
  *
  * Every aggregation here is a map-side-partial + shuffle-on-key + final
  * merge plan — the Spark rendering of the reference's two-level parallel
  * hash aggregation (src/Interpreters/Aggregator.h:118).
  */
object AggFunctions extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // count/sum/min/max/avg/countDistinct — the core family
    // (AggregateFunctionCount/Sum/sMinMax/Avg.cpp).
    // Round-17 optimization: fanned out after the read (guide §2.5 — the
    // single-row-group corpus file fuses the partial aggregate + the
    // COUNT(DISTINCT) expand into a one-task scan stage). Identity at
    // cluster scale; expressions verbatim from the oracle SQL.
    Q("q_agg_basic", (s, dir) => {
      Tables.register(s, dir)
      // fan-out keyed on the DISTINCT-aggregate keys: the two-phase
      // distinct plan's first exchange is hashpartitioning(flag, partkey),
      // so this partitioning is reused and no second full-row exchange is
      // planned
      graft.operators.ScaleOps.fanOutIfTiny(
          Tables.load(s, dir, "lineitem"),
          col("l_returnflag"), col("l_partkey"))
        .groupBy("l_returnflag")
        .agg(
          expr("COUNT(*)").as("n"),
          expr("COUNT(DISTINCT l_partkey)").as("n_parts"),
          expr("CAST(MIN(l_quantity) AS DOUBLE)").as("min_qty"),
          expr("CAST(MAX(l_quantity) AS DOUBLE)").as("max_qty"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity)").as("avg_qty"),
          expr("CAST(MIN(l_shipdate) AS DATE)").as("first_ship"),
          expr("CAST(MAX(l_shipdate) AS DATE)").as("last_ship"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        COUNT(*) AS n,
        COUNT(DISTINCT l_partkey) AS n_parts,
        CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
        CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        CAST(MIN(l_shipdate) AS DATE) AS first_ship,
        CAST(MAX(l_shipdate) AS DATE) AS last_ship
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // argMin/argMax (AggregateFunctionsArgMinArgMax.cpp:386) → max_by/min_by;
    // compare-key is the unique orderkey so results are deterministic.
    Q.shared("q_agg_argminmax", """
      SELECT o_orderpriority,
        CAST(MAX_BY(o_totalprice, o_orderkey) AS DOUBLE) AS latest_price,
        CAST(MIN_BY(o_totalprice, o_orderkey) AS DOUBLE) AS earliest_price,
        MAX_BY(o_orderstatus, o_orderkey) AS latest_status
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // Moments family (AggregateFunctionStatistics.cpp, ...Corr.cpp,
    // ...Covar.cpp). var/stddev/corr/covar are definition-identical across
    // engines; rounded to absorb summation-order ulps.
    Q.shared("q_agg_stats", """
      SELECT l_returnflag,
        ROUND(VAR_SAMP(l_quantity), 3) AS var_s,
        ROUND(VAR_POP(l_quantity), 3) AS var_p,
        ROUND(STDDEV_SAMP(l_quantity), 3) AS std_s,
        ROUND(STDDEV_POP(l_quantity), 3) AS std_p,
        ROUND(CORR(l_quantity, l_extendedprice), 3) + 0.0 AS cor,
        ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 1) + 0.0 AS cov_s,
        ROUND(COVAR_POP(l_quantity, l_extendedprice), 1) + 0.0 AS cov_p
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // skew/kurt (...SecondMoment..FourthMoment.cpp). Spark's definitions are
    // population central-moment ratios; the oracle spells them out since
    // DuckDB's built-ins use the sample-corrected forms.
    Q.sparkSql("q_agg_skew_kurt", """
      SELECT l_returnflag,
        ROUND(SKEWNESS(l_quantity), 3) + 0.0 AS skew,
        ROUND(KURTOSIS(l_quantity), 3) + 0.0 AS kurt
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
      """
      WITH m AS (
        SELECT l_returnflag,
          AVG(l_quantity) AS m1, AVG(l_quantity*l_quantity) AS p2,
          AVG(l_quantity*l_quantity*l_quantity) AS p3,
          AVG(l_quantity*l_quantity*l_quantity*l_quantity) AS p4
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
        ROUND((p3 - 3*m1*p2 + 2*m1*m1*m1) / POW(p2 - m1*m1, 1.5), 3) + 0.0 AS skew,
        ROUND((p4 - 4*m1*p3 + 6*m1*m1*p2 - 3*m1*m1*m1*m1) / POW(p2 - m1*m1, 2.0) - 3.0, 3) + 0.0 AS kurt
      FROM m ORDER BY l_returnflag"""),

    // Exact quantiles (AggregateFunctionQuantileExact*.cpp) → percentile;
    // DuckDB's continuous quantile uses the same (n-1)p interpolation.
    // Top-level arrays are serialized to CSV strings (fixed-scale DECIMAL
    // per element) so the driver's pandas sort/hash sees hashable columns.
    // Round-17 optimization: exact percentiles by ITERATIVE HISTOGRAM
    // SELECTION (operators.ExactQuantiles) instead of the built-in
    // PERCENTILE aggregate — the built-in holds a value→count map per
    // group, which on a high-cardinality double column is an OOM shape at
    // 100 TB (billions of distinct prices in one merge buffer); selection
    // aggregates only bounded histograms and collects only the buckets
    // containing a needed order statistic. Interpolation arithmetic is
    // bit-identical to Percentile.getPercentile (pinned in
    // ExactQuantilesSpec); ROUND/DECIMAL rendering reproduces the former
    // expression exactly. Fan-out + one localCheckpoint so the operator's
    // few passes read materialized blocks, not re-scans.
    Q("q_agg_quantile_exact", (s, dir) => {
      Tables.register(s, dir)
      // BOTH value columns ride one selection pass: stack them into
      // (flag|which, v) rows so the operator's stats/histogram/collect
      // jobs run once, not once per column (measured: two separate calls
      // cost ~0.5s more in job overhead at sf0.1)
      // lineageCut = localCheckpoint: executor-block storage, not
      // fault-tolerant — a lost executor fails the query
      val base = graft.operators.Components.lineageCut(
        graft.operators.ScaleOps.fanOutIfTiny(
            Tables.load(s, dir, "lineitem"), col("l_orderkey"))
          .selectExpr("l_returnflag",
            "stack(2, 'q', CAST(l_quantity AS DOUBLE), " +
              "'p', CAST(l_extendedprice AS DOUBLE)) AS (which, v)")
          .select(concat(col("l_returnflag"), lit("|"), col("which")).as("gk"),
            col("v")))
      val pcts = Seq(0.25, 0.5, 0.75, 0.9)
      val all = graft.operators.ExactQuantiles.groupPercentiles(
        base, "gk", "v", pcts)
      val flags = all.keys.map(_.asInstanceOf[String].split('|').head).toSeq
        .distinct.sorted
      val med = flags.map(g => g -> all(s"$g|q")(pcts.indexOf(0.5))).toMap
      val qs = flags.map(g => g -> all(s"$g|p")).toMap
      // ROUND(x, 4) for doubles = BigDecimal.valueOf(x).setScale(4,
      // HALF_UP).toDouble (Spark Round); CAST(double AS DECIMAL(18,4))
      // AS STRING = the same setScale rendered with its trailing zeros.
      def r4(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      def dec4(x: Double): String = java.math.BigDecimal.valueOf(r4(x))
        .setScale(4, java.math.RoundingMode.HALF_UP).toPlainString
      val rows = flags.map { g =>
        (g, r4(med(g)), qs(g).map(dec4).mkString(","))
      }
      import s.implicits._
      rows.toDF("l_returnflag", "median_qty", "price_quartiles")
        .orderBy("l_returnflag")
    },
      Some(
      """
      SELECT l_returnflag,
        ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median_qty,
        ARRAY_TO_STRING(LIST_TRANSFORM(QUANTILE_CONT(l_extendedprice, [0.25, 0.5, 0.75, 0.9]),
                       x -> CAST(CAST(ROUND(x, 4) AS DECIMAL(18,4)) AS VARCHAR)), ',') AS price_quartiles
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // Sketch path: t-digest-class quantile + HLL distinct
    // (AggregateFunctionQuantileTDigest.cpp, AggregateFunctionUniq.h:74).
    // Sketch VALUES are engine-specific, but their ERROR BOUNDS are not
    // (round-3 verdict #8): the query emits booleans asserting the HLL
    // estimate lands within 5% of the exact distinct count and the
    // approximate median between the exact 45th/55th percentiles; the
    // oracle states those bounds as literal TRUE alongside the exact
    // counts. A drifting sketch now hash-fails instead of passing rows-only.
    Q.sparkSql("q_agg_sketches", """
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_uniq,
        (ABS(APPROX_COUNT_DISTINCT(l_partkey) - COUNT(DISTINCT l_partkey))
           <= 0.05 * COUNT(DISTINCT l_partkey)) AS uniq_within_5pct,
        (APPROX_PERCENTILE(l_extendedprice, 0.5)
           BETWEEN PERCENTILE(l_extendedprice, 0.45)
               AND PERCENTILE(l_extendedprice, 0.55)) AS median_within_decile
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
      """
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_uniq,
        TRUE AS uniq_within_5pct,
        TRUE AS median_within_decile
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // groupArray / groupUniqArray / groupConcat
    // (AggregateFunctionGroupArray*.cpp, ...GroupConcat.cpp:246).
    Q.sparkSql("q_agg_collect", """
      SELECT o_orderpriority,
        CONCAT_WS('|', ARRAY_SORT(COLLECT_SET(o_orderstatus))) AS statuses,
        CONCAT_WS(',', ARRAY_SORT(COLLECT_SET(o_orderstatus))) AS status_csv,
        ARRAY_JOIN(TRANSFORM(SLICE(ARRAY_SORT(COLLECT_LIST(o_orderkey)), 1, 5),
                   x -> CAST(x AS STRING)), ',') AS first_keys
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
      """
      SELECT o_orderpriority,
        STRING_AGG(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
        STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS status_csv,
        ARRAY_TO_STRING((LIST(o_orderkey ORDER BY o_orderkey))[1:5], ',') AS first_keys
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // bool_and/bool_or (aka every/any).
    Q.shared("q_agg_bool", """
      SELECT l_returnflag,
        BOOL_AND(l_quantity > 0.0) AS all_positive,
        BOOL_OR(l_discount > 0.09) AS any_high_discount
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -If combinator (Combinators/AggregateFunctionIf.cpp): f(x) filtered by
    // a condition; -Distinct combinator (…Distinct.cpp): f over distinct args.
    Q.shared("q_agg_combinators", """
      SELECT o_orderpriority,
        COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS count_if_f,
        CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS sum_if_f,
        CAST(SUM(DISTINCT CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_distinct_cust,
        COUNT(DISTINCT o_orderstatus) AS uniq_status
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // -OrNull semantics: aggregates over empty sets return NULL (SUM of an
    // always-false filter), plus COALESCE for the -OrDefault twin.
    Q.shared("q_agg_ornull_ordefault", """
      SELECT
        CAST(SUM(CAST(CASE WHEN l_quantity > 1000.0 THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_or_null,
        CAST(COALESCE(SUM(CAST(CASE WHEN l_quantity > 1000.0 THEN l_quantity END AS DECIMAL(18,2))), 0.0) AS DOUBLE) AS sum_or_default,
        MIN(CASE WHEN l_quantity > 1000.0 THEN l_shipdate END) AS min_or_null
      FROM lineitem"""),

    // topK (SpaceSaving; AggregateFunctionTopK.cpp:20) — exact custom
    // Aggregator with deterministic (count desc, value asc) tie-break.
    Q.df("q_agg_topk", """
      SELECT e.user_id, (
        SELECT ARRAY_TO_STRING(LIST(event_type ORDER BY cnt DESC, event_type)[1:3], ',')
        FROM (SELECT event_type, COUNT(*) AS cnt
              FROM events i WHERE i.user_id = e.user_id
              GROUP BY event_type) t
      ) AS top_types
      FROM (SELECT DISTINCT user_id FROM events) e
      ORDER BY e.user_id""") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws(",", CustomAggregates.topK(3)(col("event_type"))).as("top_types"))
        .orderBy("user_id")
    },

    // uniqUpTo(N) (AggregateFunctionUniq.h uniqUpTo): exact distinct capped
    // at N+1 — state bounded at N+1 values regardless of input size.
    Q.df("q_agg_uniq_upto", """
      SELECT user_id,
        LEAST(COUNT(DISTINCT event_type), 4) AS types_upto_3
      FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(CustomAggregates.uniqUpTo(3)(col("event_type")).as("types_upto_3"))
        .orderBy("user_id")
    },

    // sumMap (AggregateFunctionSumMap.cpp): keyed sums emitted as sorted
    // entries; fixed-point accumulation keeps it merge-order-exact.
    Q.df("q_agg_sum_map", """
      SELECT user_id,
        STRING_AGG(event_type || ':' || CAST(CAST(v AS DECIMAL(18,4)) AS VARCHAR),
                   ',' ORDER BY event_type) AS type_sums
      FROM (SELECT user_id, event_type,
              CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS v
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(CustomAggregates.sumMap(col("event_type"), col("value")).as("pairs"))
        .select(col("user_id"),
          concat_ws(",", transform(col("pairs"), p =>
            concat(p.getField("_1"), lit(":"),
              p.getField("_2").cast("decimal(18,4)").cast("string")))).as("type_sums"))
        .orderBy("user_id")
    },

    // windowFunnel (AggregateFunctionWindowFunnel.cpp): greedy-from-earliest
    // 3-step funnel view→click→purchase within 7 days.
    Q.df("q_agg_window_funnel", """
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND t > t1 AND t <= t1 + 604800000000 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > t2 AND t <= t1 + 604800000000 GROUP BY e.user_id)
      SELECT u.user_id,
        CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level
      FROM (SELECT DISTINCT user_id FROM e) u
      LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      ORDER BY u.user_id""") { (s, dir) =>
      val step = when(col("event_type") === "view", 0)
        .when(col("event_type") === "click", 1)
        .when(col("event_type") === "purchase", 2)
        .otherwise(-1)
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(CustomAggregates.windowFunnel(604800000000L, 3)(
          unix_micros(col("ts")), step).as("funnel_level"))
        .orderBy("user_id")
    },

    // retention (AggregateFunctionRetention.cpp): r1 = saw signup,
    // r_i = r1 AND saw step i — composed from built-in bool aggregates.
    Q.shared("q_agg_retention", """
      SELECT user_id,
        CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INT) AS r1,
        CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT) AS r2,
        CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           * MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS r3
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),

    // sequenceMatch('(?1).*(?2)') (AggregateFunctionSequenceMatch.cpp):
    // "a signup strictly precedes some purchase".
    Q.sparkSql("q_agg_sequence_match", """
      SELECT user_id,
        CAST(CASE WHEN MIN(CASE WHEN event_type = 'signup' THEN UNIX_MICROS(ts) END)
                     < MAX(CASE WHEN event_type = 'purchase' THEN UNIX_MICROS(ts) END)
             THEN 1 ELSE 0 END AS INT) AS matched
      FROM events GROUP BY user_id ORDER BY user_id""",
      """
      SELECT user_id,
        CAST(CASE WHEN MIN(CASE WHEN event_type = 'signup' THEN EPOCH_US(ts) END)
                     < MAX(CASE WHEN event_type = 'purchase' THEN EPOCH_US(ts) END)
             THEN 1 ELSE 0 END AS INT) AS matched
      FROM events GROUP BY user_id ORDER BY user_id"""),

    // deltaSum (AggregateFunctionDeltaSum.cpp): sum of positive deltas in
    // time order — windowed lag + decimal-exact summation.
    Q.sparkSql("q_agg_delta_sum", """
      SELECT user_id,
        CAST(SUM(CAST(CASE WHEN d > 0.0 THEN d ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS delta_sum
      FROM (SELECT user_id,
              value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
            FROM events) t
      GROUP BY user_id ORDER BY user_id""",
      """
      SELECT user_id,
        CAST(SUM(CAST(CASE WHEN d > 0.0 THEN d ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS delta_sum
      FROM (SELECT user_id,
              value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
            FROM events) t
      GROUP BY user_id ORDER BY user_id"""),

    // histogram as deterministic equal-width bins (the reference's
    // AggregateFunctionHistogram.cpp is adaptive; this engine specs
    // fixed-width so results are exact and oracle-able).
    Q.shared("q_agg_histogram", """
      SELECT CAST(FLOOR(value / 10.0) AS INT) AS bin,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events
      GROUP BY CAST(FLOOR(value / 10.0) AS INT)
      ORDER BY bin"""),

    // exponentialTimeDecayedSum (WindowTransform.cpp:2712) as an expression
    // rewrite: sum(v * exp(-(t_max - t)/λ)) with λ = 1 day.
    Q.sparkSql("q_agg_exp_decay", """
      SELECT user_id,
        ROUND(SUM(value * EXP(-(CAST(tmax - t AS DOUBLE)) / 86400000000.0)), 4) AS decayed_sum
      FROM (SELECT user_id, value, UNIX_MICROS(ts) AS t,
              MAX(UNIX_MICROS(ts)) OVER (PARTITION BY user_id) AS tmax
            FROM events) x
      GROUP BY user_id ORDER BY user_id""",
      """
      SELECT user_id,
        ROUND(SUM(value * EXP(-(CAST(tmax - t AS DOUBLE)) / 86400000000.0)), 4) AS decayed_sum
      FROM (SELECT user_id, value, EPOCH_US(ts) AS t,
              MAX(EPOCH_US(ts)) OVER (PARTITION BY user_id) AS tmax
            FROM events) x
      GROUP BY user_id ORDER BY user_id""")
  )
}
