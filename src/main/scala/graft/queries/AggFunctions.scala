package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.functions.aggregates.CustomAggregates
import org.apache.spark.sql.Column
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
      GROUP BY user_id ORDER BY user_id"""),

    // Combinator, group-array, map, sequence and sketch-state aggregates

    // -Array combinator (Combinators/AggregateFunctionArray.cpp):
    // aggregate over array elements — sumArray/avgArray/maxArray over the
    // embedding vectors per label.
    Q.df("q_agg_array_combinator", """
      SELECT label,
        ROUND(SUM(e) , 4) AS sum_array,
        ROUND(MAX(e), 6) AS max_array,
        COUNT(*) AS n_elems
      FROM (SELECT label, UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS e
            FROM embeddings)
      GROUP BY label
      ORDER BY label""") { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("label"),
          explode(transform(col("embedding"), x => x.cast("double"))).as("e"))
        .groupBy("label")
        .agg(round(sum(col("e")), 4).as("sum_array"),
          round(max(col("e")), 6).as("max_array"),
          count(lit(1)).as("n_elems"))
        .orderBy("label")
    },

    // -State/-Merge semantics via re-aggregable partials (the
    // AggregatingMergeTree read path, src/Processors/Merges/Algorithms/
    // AggregatingSortedAlgorithm): store per-(flag,status) partial
    // (sum, count) states, then MERGE them to per-flag finals — exactly
    // what -State columns + -Merge reads do, with the state as columns.
    Q.shared("q_agg_state_merge", """
      WITH states AS (
        SELECT l_returnflag, l_linestatus,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_state,
          COUNT(*) AS count_state
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus)
      SELECT l_returnflag,
        CAST(SUM(sum_state) AS DOUBLE) AS merged_sum,
        CAST(SUM(count_state) AS BIGINT) AS merged_count,
        CAST(SUM(sum_state) AS DOUBLE) / SUM(count_state) AS merged_avg
      FROM states
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -ForEach combinator (Combinators/AggregateFunctionForEach.cpp):
    // elementwise aggregate across array columns — the 64-dim mean vector
    // of all embeddings (a centroid, as used by the IVF ANN operator).
    Q.df("q_agg_foreach", """
      SELECT ARRAY_TO_STRING(LIST_TRANSFORM(
               LIST({'p': i, 'v': v} ORDER BY i),
               s -> CAST(CAST(s.v AS DECIMAL(18,4)) AS VARCHAR)), ',') AS avg_foreach
      FROM (SELECT i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS v
            FROM embeddings, GENERATE_SERIES(1, 64) t(i)
            GROUP BY i)""") { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("p", "v")))
        .groupBy("p").agg(round(avg(col("v").cast("double")), 4).as("v"))
        .agg(array_sort(collect_list(struct(col("p"), col("v")))).as("s"))
        .select(concat_ws(",", transform(col("s"),
          s => s.getField("v").cast("decimal(18,4)").cast("string"))).as("avg_foreach"))
    },

    // minMap / maxMap (AggregateFunctionSumMap.cpp family): per-key min and
    // max emitted as key-sorted entries.
    Q.df("q_agg_minmax_map", """
      SELECT user_id,
        STRING_AGG(event_type || ':' || CAST(CAST(mn AS DECIMAL(18,6)) AS VARCHAR),
                   ',' ORDER BY event_type) AS min_map,
        STRING_AGG(event_type || ':' || CAST(CAST(mx AS DECIMAL(18,6)) AS VARCHAR),
                   ',' ORDER BY event_type) AS max_map
      FROM (SELECT user_id, event_type,
              ROUND(MIN(value), 6) AS mn, ROUND(MAX(value), 6) AS mx
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id
      ORDER BY user_id""") { (s, dir) =>
      val entry = (k: Column, v: Column) =>
        concat(k, lit(":"), v.cast("decimal(18,6)").cast("string"))
      Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(round(min("value"), 6).as("mn"), round(max("value"), 6).as("mx"))
        .groupBy("user_id")
        .agg(
          array_sort(collect_list(struct(col("event_type").as("_1"), col("mn").as("_2"))))
            .as("mins"),
          array_sort(collect_list(struct(col("event_type").as("_1"), col("mx").as("_2"))))
            .as("maxs"))
        .select(col("user_id"),
          concat_ws(",", transform(col("mins"),
            p => entry(p.getField("_1"), p.getField("_2")))).as("min_map"),
          concat_ws(",", transform(col("maxs"),
            p => entry(p.getField("_1"), p.getField("_2")))).as("max_map"))
        .orderBy("user_id")
    },

    // -Resample combinator (Combinators/AggregateFunctionResample.cpp):
    // one aggregate evaluated per bucket of a resample key, emitted as an
    // array — order counts over 6 totalprice bands.
    Q.sparkSql("q_agg_resample", """
      SELECT ARRAY_JOIN(TRANSFORM(ARRAY(
        COUNT(CASE WHEN o_totalprice >= 0      AND o_totalprice < 100000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 200000 AND o_totalprice < 300000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 300000 AND o_totalprice < 400000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 400000 AND o_totalprice < 500000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 500000 THEN 1 END)),
        x -> CAST(x AS STRING)), ',') AS count_resample
      FROM orders""",
      """
      SELECT ARRAY_TO_STRING([
        COUNT(CASE WHEN o_totalprice >= 0      AND o_totalprice < 100000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 200000 AND o_totalprice < 300000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 300000 AND o_totalprice < 400000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 400000 AND o_totalprice < 500000 THEN 1 END),
        COUNT(CASE WHEN o_totalprice >= 500000 THEN 1 END)], ',') AS count_resample
      FROM orders"""),

    // sequenceCount('(?1)(?2)') (AggregateFunctionSequenceMatch.cpp
    // sequenceCount): non-overlapping signup→purchase chains per user —
    // a purchase closes a chain iff a signup occurred after the previous
    // purchase; greedy left-to-right, expressed with window functions.
    Q.sparkSql("q_agg_sequence_count", """
      WITH e AS (SELECT user_id, UNIX_MICROS(ts) AS t, event_type FROM events),
      m AS (SELECT user_id, t, event_type,
              MAX(CASE WHEN event_type = 'signup' THEN t END)
                OVER (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup,
              MAX(CASE WHEN event_type = 'purchase' THEN t END)
                OVER (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase
            FROM e)
      SELECT user_id, COUNT(*) AS chains
      FROM m
      WHERE event_type = 'purchase'
        AND last_signup IS NOT NULL
        AND last_signup > COALESCE(prev_purchase, -1)
      GROUP BY user_id
      ORDER BY user_id""",
      """
      WITH e AS (SELECT user_id, EPOCH_US(ts) AS t, event_type FROM events),
      m AS (SELECT user_id, t, event_type,
              MAX(CASE WHEN event_type = 'signup' THEN t END)
                OVER (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup,
              MAX(CASE WHEN event_type = 'purchase' THEN t END)
                OVER (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase
            FROM e)
      SELECT user_id, COUNT(*) AS chains
      FROM m
      WHERE event_type = 'purchase'
        AND last_signup IS NOT NULL
        AND last_signup > COALESCE(prev_purchase, -1)
      GROUP BY user_id
      ORDER BY user_id"""),

    // sequenceNextNode(forward, first_match) (reference:
    // src/AggregateFunctions/AggregateFunctionSequenceNextNode.cpp): the
    // event that FOLLOWS the first matched event ('signup') per user, in
    // (ts, event_id) order.
    Q.sparkSql("q_agg_sequence_next_node", """
      WITH e AS (SELECT user_id, UNIX_MICROS(ts) AS t, event_id, event_type
                 FROM events),
      f AS (SELECT user_id, MIN(t) AS t0 FROM e
            WHERE event_type = 'signup' GROUP BY user_id),
      nxt AS (SELECT e.user_id, e.event_type,
                ROW_NUMBER() OVER (PARTITION BY e.user_id
                                   ORDER BY e.t, e.event_id) AS rn
              FROM e JOIN f ON e.user_id = f.user_id AND e.t > f.t0)
      SELECT user_id, event_type AS next_node
      FROM nxt WHERE rn = 1
      ORDER BY user_id""",
      """
      WITH e AS (SELECT user_id, EPOCH_US(ts) AS t, event_id, event_type
                 FROM events),
      f AS (SELECT user_id, MIN(t) AS t0 FROM e
            WHERE event_type = 'signup' GROUP BY user_id),
      nxt AS (SELECT e.user_id, e.event_type,
                ROW_NUMBER() OVER (PARTITION BY e.user_id
                                   ORDER BY e.t, e.event_id) AS rn
              FROM e JOIN f ON e.user_id = f.user_id AND e.t > f.t0)
      SELECT user_id, event_type AS next_node
      FROM nxt WHERE rn = 1
      ORDER BY user_id"""),

    // groupArraySorted(5) (reference: registered next to
    // AggregateFunctionGroupArray.cpp family): the 5 smallest values per
    // group, sorted — emitted as exact cent integers, CSV-serialized.
    Q.sparkSql("q_agg_group_array_sorted", """
      SELECT o_orderpriority,
        ARRAY_JOIN(TRANSFORM(
          SLICE(ARRAY_SORT(COLLECT_LIST(CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 5),
          x -> CAST(x AS STRING)), ',') AS low5_cents
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
      """
      SELECT o_orderpriority,
        ARRAY_TO_STRING((LIST(c ORDER BY c))[1:5], ',') AS low5_cents
      FROM (SELECT o_orderpriority,
              CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // groupArrayMovingSum(3) (reference:
    // src/AggregateFunctions/AggregateFunctionGroupArrayMoving.cpp): the
    // trailing-3 moving sum over each group's ordered series (monthly
    // quantity per returnflag), emitted as the CH array — CSV of exact
    // DECIMAL window sums. Window is PARTITIONED by flag; the series per
    // group is months, tiny.
    Q.sparkSql("q_agg_group_array_moving", """
      WITH m AS (SELECT l_returnflag, DATE_TRUNC('month', l_shipdate) AS mo,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
                 FROM lineitem GROUP BY l_returnflag, DATE_TRUNC('month', l_shipdate)),
      w AS (SELECT l_returnflag, mo,
              SUM(q) OVER (PARTITION BY l_returnflag ORDER BY mo
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms
            FROM m)
      SELECT l_returnflag,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(mo, ms))),
          s -> CAST(s.ms AS STRING)), ',') AS moving_sum3
      FROM w
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
      """
      WITH m AS (SELECT l_returnflag, DATE_TRUNC('month', l_shipdate) AS mo,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
                 FROM lineitem GROUP BY l_returnflag, DATE_TRUNC('month', l_shipdate)),
      w AS (SELECT l_returnflag, mo,
              SUM(q) OVER (PARTITION BY l_returnflag ORDER BY mo
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms
            FROM m)
      SELECT l_returnflag,
        STRING_AGG(CAST(ms AS VARCHAR), ',' ORDER BY mo) AS moving_sum3
      FROM w
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // groupArrayInsertAt (reference:
    // src/AggregateFunctions/AggregateFunctionGroupArrayInsertAt.cpp):
    // values placed at caller-given positions (priority digit 1..5),
    // absent slots default-filled with 0.
    Q.sparkSql("q_agg_group_array_insert_at", """
      WITH c AS (SELECT o_orderstatus,
                   CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS pos,
                   COUNT(*) AS cnt
                 FROM orders GROUP BY o_orderstatus, SUBSTRING(o_orderpriority, 1, 1)),
      m AS (SELECT o_orderstatus,
              MAP_FROM_ENTRIES(COLLECT_LIST(STRUCT(pos, cnt))) AS mp
            FROM c GROUP BY o_orderstatus)
      SELECT o_orderstatus,
        ARRAY_JOIN(TRANSFORM(SEQUENCE(1, 5),
          i -> CAST(COALESCE(ELEMENT_AT(mp, i), 0) AS STRING)), ',') AS by_priority
      FROM m
      ORDER BY o_orderstatus""",
      """
      SELECT o_orderstatus,
        ARRAY_TO_STRING([
          COUNT(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) = '1' THEN 1 END),
          COUNT(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) = '2' THEN 1 END),
          COUNT(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) = '3' THEN 1 END),
          COUNT(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) = '4' THEN 1 END),
          COUNT(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) = '5' THEN 1 END)], ',') AS by_priority
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // topKWeighted(3) (reference: AggregateFunctionTopK.cpp:50 weighted
    // registration): top event types by TOTAL VALUE (fixed-point weight),
    // deterministic tie-break (weight desc, value asc).
    Q.sparkSql("q_agg_topk_weighted", """
      WITH w AS (SELECT user_id, event_type,
                   SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS wt
                 FROM events GROUP BY user_id, event_type),
      r AS (SELECT user_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY wt DESC, event_type) AS rn
            FROM w)
      SELECT user_id,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(rn, event_type))),
          s -> s.event_type), ',') AS top_types
      FROM r WHERE rn <= 3
      GROUP BY user_id
      ORDER BY user_id""",
      """
      WITH w AS (SELECT user_id, event_type,
                   SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS wt
                 FROM events GROUP BY user_id, event_type),
      r AS (SELECT user_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY wt DESC, event_type) AS rn
            FROM w)
      SELECT user_id,
        STRING_AGG(event_type, ',' ORDER BY rn) AS top_types
      FROM r WHERE rn <= 3
      GROUP BY user_id
      ORDER BY user_id"""),

    // intervalLengthSum: length of the UNION of [ship, ship + 1..20 days)
    // intervals per supplier — sweep line: sort by start within the key,
    // each interval contributes max(0, end - max(start, running max of
    // previous ends)). (The synthetic lineitem ships no l_receiptdate, so
    // the interval end derives deterministically from l_orderkey — the
    // sweep-line operator under test is unchanged.)
    Q.sparkSql("q_agg_interval_length_sum", """
      WITH iv AS (SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS s,
                    DATE_ADD(CAST(l_shipdate AS DATE),
                             CAST(l_orderkey % 20 + 1 AS INT)) AS e
                  FROM lineitem),
      w AS (SELECT k, s, e,
              MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
            FROM iv)
      SELECT k,
        CAST(SUM(GREATEST(0, DATEDIFF(e, GREATEST(s, COALESCE(pmax, s))))) AS BIGINT)
          AS union_days
      FROM w
      GROUP BY k
      ORDER BY k""",
      """
      WITH iv AS (SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS s,
                    CAST(l_shipdate AS DATE) + CAST(l_orderkey % 20 + 1 AS INT) AS e
                  FROM lineitem),
      w AS (SELECT k, s, e,
              MAX(e) OVER (PARTITION BY k ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
            FROM iv)
      SELECT k,
        CAST(SUM(GREATEST(0, DATE_DIFF('day', GREATEST(s, COALESCE(pmax, s)), e))) AS BIGINT)
          AS union_days
      FROM w
      GROUP BY k
      ORDER BY k"""),

    // maxIntersections: the maximum number of simultaneously open
    // [ship, ship + 1..20 days) intervals per supplier — +1/-1 deltas
    // aggregated per date, running sum, max. Same derived end as
    // q_agg_interval_length_sum.
    Q.sparkSql("q_agg_max_intersections", """
      WITH pts AS (
        SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS t, 1 AS d FROM lineitem
        UNION ALL
        SELECT l_suppkey AS k,
          DATE_ADD(CAST(l_shipdate AS DATE), CAST(l_orderkey % 20 + 1 AS INT)) AS t,
          -1 AS d FROM lineitem),
      c AS (SELECT k, t, SUM(d) AS dsum FROM pts GROUP BY k, t),
      r AS (SELECT k,
              SUM(dsum) OVER (PARTITION BY k ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM c)
      SELECT k, CAST(MAX(run) AS BIGINT) AS max_open
      FROM r
      GROUP BY k
      ORDER BY k""",
      """
      WITH pts AS (
        SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS t, 1 AS d FROM lineitem
        UNION ALL
        SELECT l_suppkey AS k,
          CAST(l_shipdate AS DATE) + CAST(l_orderkey % 20 + 1 AS INT) AS t,
          -1 AS d FROM lineitem),
      c AS (SELECT k, t, SUM(d) AS dsum FROM pts GROUP BY k, t),
      r AS (SELECT k,
              SUM(dsum) OVER (PARTITION BY k ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM c)
      SELECT k, CAST(MAX(run) AS BIGINT) AS max_open
      FROM r
      GROUP BY k
      ORDER BY k"""),

    // deltaSumTimestamp: sum of POSITIVE deltas between consecutive values
    // in (ts, event_id) order per user — fixed-point so the sum is exact.
    Q.sparkSql("q_agg_delta_sum_timestamp", """
      WITH e AS (SELECT user_id, UNIX_MICROS(ts) AS t, event_id,
                   CAST(ROUND(value * 10000) AS BIGINT) AS v
                 FROM events),
      d AS (SELECT user_id,
              v - LAG(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS dv
            FROM e)
      SELECT user_id,
        CAST(SUM(CASE WHEN dv > 0 THEN dv ELSE 0 END) AS DOUBLE) / 10000.0 AS delta_sum
      FROM d
      GROUP BY user_id
      ORDER BY user_id""",
      """
      WITH e AS (SELECT user_id, EPOCH_US(ts) AS t, event_id,
                   CAST(ROUND(value * 10000) AS BIGINT) AS v
                 FROM events),
      d AS (SELECT user_id,
              v - LAG(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS dv
            FROM e)
      SELECT user_id,
        CAST(SUM(CASE WHEN dv > 0 THEN dv ELSE 0 END) AS DOUBLE) / 10000.0 AS delta_sum
      FROM d
      GROUP BY user_id
      ORDER BY user_id"""),

    // boundingRatio: slope between the first and last point of each user's
    // (ts, value) series — value delta per SECOND, exact fixed-point values.
    Q.sparkSql("q_agg_bounding_ratio", """
      WITH e AS (SELECT user_id, UNIX_MICROS(ts) AS t, event_id,
                   CAST(ROUND(value * 10000) AS BIGINT) AS v
                 FROM events),
      r AS (SELECT user_id,
              FIRST_VALUE(v) OVER w AS v0, LAST_VALUE(v) OVER w AS v1,
              FIRST_VALUE(t) OVER w AS t0, LAST_VALUE(t) OVER w AS t1
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT DISTINCT user_id,
        CASE WHEN t1 > t0 THEN
          ROUND(CAST(v1 - v0 AS DOUBLE) / 10000.0
                / (CAST(t1 - t0 AS DOUBLE) / 1000000.0), 8)
        END AS ratio_per_sec
      FROM r
      ORDER BY user_id""",
      """
      WITH e AS (SELECT user_id, EPOCH_US(ts) AS t, event_id,
                   CAST(ROUND(value * 10000) AS BIGINT) AS v
                 FROM events),
      r AS (SELECT user_id,
              FIRST_VALUE(v) OVER w AS v0, LAST_VALUE(v) OVER w AS v1,
              FIRST_VALUE(t) OVER w AS t0, LAST_VALUE(t) OVER w AS t1
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT DISTINCT user_id,
        CASE WHEN t1 > t0 THEN
          ROUND(CAST(v1 - v0 AS DOUBLE) / 10000.0
                / (CAST(t1 - t0 AS DOUBLE) / 1000000.0), 8)
        END AS ratio_per_sec
      FROM r
      ORDER BY user_id"""),

    // sparkbar(12): unicode bar chart of monthly order counts — levels are
    // integer math (1..8 scaled min..max), glyphs from a literal array so
    // both engines emit identical strings.
    Q.sparkSql("q_agg_sparkbar", """
      WITH m AS (SELECT (YEAR(o_orderdate) - 1995) * 12 + MONTH(o_orderdate) - 1 AS mo,
                   COUNT(*) AS c
                 FROM orders WHERE YEAR(o_orderdate) = 1995
                 GROUP BY (YEAR(o_orderdate) - 1995) * 12 + MONTH(o_orderdate) - 1),
      s AS (SELECT mo, c, MIN(c) OVER () AS mn, MAX(c) OVER () AS mx FROM m),
      l AS (SELECT mo,
              CASE WHEN mx > mn
                THEN 1 + CAST(FLOOR(7.0 * (c - mn) / (mx - mn)) AS INT)
                ELSE 8 END AS lvl
            FROM s)
      SELECT ARRAY_JOIN(TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(mo, lvl))),
        x -> ELEMENT_AT(ARRAY('▁','▂','▃','▄','▅','▆','▇','█'), x.lvl)), '') AS bar
      FROM l""",
      """
      WITH m AS (SELECT (EXTRACT(YEAR FROM o_orderdate) - 1995) * 12
                   + EXTRACT(MONTH FROM o_orderdate) - 1 AS mo,
                   COUNT(*) AS c
                 FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
                 GROUP BY 1),
      s AS (SELECT mo, c, MIN(c) OVER () AS mn, MAX(c) OVER () AS mx FROM m),
      l AS (SELECT mo,
              CASE WHEN mx > mn
                THEN 1 + CAST(FLOOR(7.0 * (c - mn) / (mx - mn)) AS INT)
                ELSE 8 END AS lvl
            FROM s)
      SELECT STRING_AGG((['▁','▂','▃','▄','▅','▆','▇','█'])[lvl], '' ORDER BY mo) AS bar
      FROM l"""),

    // General -Map combinator (Combinators/AggregateFunctionMap.cpp) with
    // an aggregate beyond sum/min/max: avgMap — per-key averages emitted
    // as key-sorted entries (CSV-serialized; exact cent sums / counts).
    Q.sparkSql("q_agg_avg_map", """
      WITH k AS (SELECT user_id, event_type,
                   CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0 / COUNT(*) AS avg_v
                 FROM events GROUP BY user_id, event_type)
      SELECT user_id,
        ARRAY_JOIN(TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(event_type, avg_v))),
          s -> CONCAT(s.event_type, ':', CAST(CAST(ROUND(s.avg_v, 6) AS DECIMAL(18,6)) AS STRING))), ',')
          AS avg_map
      FROM k
      GROUP BY user_id
      ORDER BY user_id""",
      """
      WITH k AS (SELECT user_id, event_type,
                   CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0 / COUNT(*) AS avg_v
                 FROM events GROUP BY user_id, event_type)
      SELECT user_id,
        STRING_AGG(event_type || ':'
            || CAST(CAST(ROUND(avg_v, 6) AS DECIMAL(18,6)) AS VARCHAR),
          ',' ORDER BY event_type) AS avg_map
      FROM k
      GROUP BY user_id
      ORDER BY user_id"""),

    // -ArgMax combinator (Combinators/AggregateFunctionArgMinMax.cpp):
    // sumArgMax(l_quantity, l_shipdate) — the aggregate restricted to rows
    // where the arg column is maximal within the group.
    Q.shared("q_agg_combinator_argmax", """
      SELECT l_orderkey,
        CAST(SUM(CASE WHEN l_shipdate = mx
                 THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS BIGINT)
          AS sum_qty_cents_at_latest
      FROM (SELECT l_orderkey, l_quantity, l_shipdate,
              MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS mx
            FROM lineitem) t
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""),

    // groupArrayIntersect (AggregateFunctionGroupArrayIntersect.cpp): the
    // event types a user fired on EVERY active day — intersection across
    // the per-day arrays, computed scalably as per-(user,type) day counts
    // vs the user's day count (never materializing pairwise intersects).
    Q.df("q_agg_group_array_intersect", """
      WITH r AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
                 FROM events WHERE ts < TIMESTAMP '2024-01-04'),
      days AS (SELECT user_id, COUNT(DISTINCT d) AS nd FROM r GROUP BY user_id),
      c AS (SELECT user_id, event_type, COUNT(DISTINCT d) AS cd FROM r GROUP BY user_id, event_type)
      SELECT c.user_id, STRING_AGG(event_type, ',' ORDER BY event_type) AS common_csv
      FROM c JOIN days USING (user_id)
      WHERE cd = nd
      GROUP BY c.user_id
      ORDER BY user_id""") { (s, dir) =>
      val r = Tables.load(s, dir, "events")
        .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
        .distinct()
      val days = r.groupBy("user_id").agg(countDistinct("d").as("nd"))
      val counts = r.groupBy("user_id", "event_type").agg(countDistinct("d").as("cd"))
      counts.join(days, "user_id")
        .filter(col("cd") === col("nd"))
        .groupBy("user_id")
        .agg(concat_ws(",", array_sort(collect_list(col("event_type")))).as("common_csv"))
        .orderBy("user_id")
    },

    // largestTriangleThreeBuckets(12)
    // (AggregateFunctionLargestTriangleThreeBuckets.cpp): downsample the
    // daily order-count series to 12 points. Deterministic parallel
    // variant: the triangle anchor is the PREVIOUS BUCKET'S AVERAGE (the
    // reference anchors on the previously SELECTED point, a sequential
    // dependence; bucket-average anchoring is the standard parallel
    // approximation and is documented here as this engine's spec).
    Q.sparkSql("q_agg_lttb", """
      WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c
                 FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      x AS (SELECT DATEDIFF(d, DATE '1995-01-01') AS x, CAST(c AS DOUBLE) AS y,
              NTILE(12) OVER (ORDER BY d) AS b
            FROM s),
      ba AS (SELECT b, AVG(CAST(x AS DOUBLE)) AS ax, AVG(y) AS ay FROM x GROUP BY b),
      nb AS (SELECT b, ax, ay,
               LAG(ax) OVER (ORDER BY b) AS pax, LAG(ay) OVER (ORDER BY b) AS pay,
               LEAD(ax) OVER (ORDER BY b) AS nax, LEAD(ay) OVER (ORDER BY b) AS nay
             FROM ba),
      sc AS (SELECT x.b, x.x, x.y,
               CASE WHEN nb.pax IS NOT NULL AND nb.nax IS NOT NULL THEN
                 ABS((nb.pax - nb.nax) * (x.y - nb.pay)
                   - (nb.pax - CAST(x.x AS DOUBLE)) * (nb.nay - nb.pay))
               END AS area
             FROM x JOIN nb ON x.b = nb.b),
      rk AS (SELECT b, x, y,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY
                 CASE WHEN b = 1 THEN CAST(x AS DOUBLE)
                      WHEN b = 12 THEN -CAST(x AS DOUBLE)
                      ELSE -area END, x) AS rn
             FROM sc)
      SELECT b AS bucket, CAST(x AS BIGINT) AS day_off, CAST(y AS BIGINT) AS cnt
      FROM rk WHERE rn = 1
      ORDER BY bucket""",
      """
      WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c
                 FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      x AS (SELECT DATE_DIFF('day', DATE '1995-01-01', d) AS x, CAST(c AS DOUBLE) AS y,
              NTILE(12) OVER (ORDER BY d) AS b
            FROM s),
      ba AS (SELECT b, AVG(CAST(x AS DOUBLE)) AS ax, AVG(y) AS ay FROM x GROUP BY b),
      nb AS (SELECT b, ax, ay,
               LAG(ax) OVER (ORDER BY b) AS pax, LAG(ay) OVER (ORDER BY b) AS pay,
               LEAD(ax) OVER (ORDER BY b) AS nax, LEAD(ay) OVER (ORDER BY b) AS nay
             FROM ba),
      sc AS (SELECT x.b, x.x, x.y,
               CASE WHEN nb.pax IS NOT NULL AND nb.nax IS NOT NULL THEN
                 ABS((nb.pax - nb.nax) * (x.y - nb.pay)
                   - (nb.pax - CAST(x.x AS DOUBLE)) * (nb.nay - nb.pay))
               END AS area
             FROM x JOIN nb ON x.b = nb.b),
      rk AS (SELECT b, x, y,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY
                 CASE WHEN b = 1 THEN CAST(x AS DOUBLE)
                      WHEN b = 12 THEN -CAST(x AS DOUBLE)
                      ELSE -area END, x) AS rn
             FROM sc)
      SELECT b AS bucket, CAST(x AS BIGINT) AS day_off, CAST(y AS BIGINT) AS cnt
      FROM rk WHERE rn = 1
      ORDER BY bucket"""),

    // uniqState/uniqMerge sketch algebra over DataSketches HLL: per-status
    // binary states union-merged to a global estimate. At the tiny
    // o_orderpriority cardinality (5) the sketch operates in exact
    // list-mode, so COUNT DISTINCT is a true oracle; the big-cardinality
    // merge path (states == single pass, ±5% of exact) is asserted in
    // ChRegistrySpec.
    Q.sparkSql("q_agg_uniq_state_merge_hll", """
      WITH st AS (SELECT o_orderstatus,
                    HLL_SKETCH_AGG(o_orderpriority) AS sk
                  FROM orders GROUP BY o_orderstatus)
      SELECT o_orderstatus, HLL_SKETCH_ESTIMATE(sk) AS nd FROM st
      UNION ALL
      SELECT 'ALL' AS o_orderstatus, HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(sk)) AS nd FROM st
      ORDER BY o_orderstatus""",
      """
      SELECT o_orderstatus, COUNT(DISTINCT o_orderpriority) AS nd
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ALL' AS o_orderstatus, COUNT(DISTINCT o_orderpriority) AS nd
      FROM orders
      ORDER BY o_orderstatus"""),

    Q.ch("q_agg_any_heavy", """
      SELECT CAST(anyHeavy(x) AS INT) AS h
      FROM VALUES (5), (5), (1), (5), (2) AS t(x)""",
      """
      SELECT 5 AS h"""),

    // Theta-sketch set algebra (round 9 — FunctionsUniqTheta.cpp):
    // -State lane + union/intersect/not + finalizeAggregation. Both
    // inputs stay below the sketch's nominal k (exact mode), so every
    // readout is EXACTLY the set-arithmetic answer the oracle computes
    // with COUNT(DISTINCT).
    Q.ch("q_agg_theta_algebra", """
      SELECT
        CAST(finalizeAggregation(uniqThetaUnion(a.s, b.s)) AS BIGINT) AS u,
        CAST(finalizeAggregation(uniqThetaIntersect(a.s, b.s)) AS BIGINT) AS i,
        CAST(finalizeAggregation(uniqThetaNot(a.s, b.s)) AS BIGINT) AS d,
        CAST(finalizeAggregation(a.s) AS BIGINT) AS na,
        CAST(finalizeAggregation(b.s) AS BIGINT) AS nb
      FROM (SELECT uniqThetaState(c_nationkey) AS s FROM customer) a
      CROSS JOIN (SELECT uniqThetaState(n_nationkey) AS s FROM nation
                  WHERE n_nationkey < 10) b""",
      """
      SELECT
        (SELECT COUNT(DISTINCT k) FROM (
          SELECT c_nationkey AS k FROM customer
          UNION SELECT n_nationkey FROM nation WHERE n_nationkey < 10)) AS u,
        (SELECT COUNT(DISTINCT n_nationkey) FROM nation
         WHERE n_nationkey < 10
           AND n_nationkey IN (SELECT c_nationkey FROM customer)) AS i,
        (SELECT COUNT(DISTINCT c_nationkey) FROM customer
         WHERE c_nationkey NOT IN
           (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)) AS d,
        (SELECT COUNT(DISTINCT c_nationkey) FROM customer) AS na,
        (SELECT COUNT(DISTINCT n_nationkey) FROM nation
         WHERE n_nationkey < 10) AS nb""")
  )
}
