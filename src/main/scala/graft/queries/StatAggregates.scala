package graft.queries

import graft.{Q, QueryPack}

/** Statistical aggregate tail (VERDICT round-1 gap #2/#3): KS test, rank
  * correlation, Cramér's V, Theil's U, entropy, simple linear regression,
  * avgWeighted, sumCount, student t-test.
  *
  * Reference anchors: src/AggregateFunctions/
  * AggregateFunctionKolmogorovSmirnovTest.cpp, ...RankCorrelation.cpp,
  * ...CramersV.cpp, ...TheilsU.cpp, ...Entropy.cpp,
  * ...SimpleLinearRegression.cpp, ...AvgWeighted.cpp, ...SumCount.cpp,
  * ...TTest.h (studentTTest).
  *
  * Determinism design: every statistic is composed from EXACT partial sums
  * — integer counts, fixed-point (x100) price cents, exact DECIMAL
  * products — so the per-group sums are independent of Spark's partial-agg
  * merge order, and the final scalar formula is the same IEEE-double
  * expression on both engines. Double sums whose addition order could vary
  * (entropy terms) go through a ROUND(term * 1e12)-to-BIGINT fixed point.
  *
  * Scale design: each statistic shuffles once on the grouping/value key
  * with map-side partial aggregation; rank/CDF statistics aggregate per
  * DISTINCT VALUE first, so the prefix-sum window runs over the tiny
  * distinct-value table, never the raw input (the round-1 mann-whitney
  * lesson).
  */
object StatAggregates extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // Two-sample Kolmogorov-Smirnov D: max |F_R(x) - F_N(x)| over the
    // merged support. Per-value counts → integer prefix sums over the
    // ~50-row distinct-value table.
    Q.shared("q_agg_ks_test", """
      WITH t AS (SELECT l_returnflag AS g, l_quantity AS x
                 FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      c AS (SELECT x,
              COUNT(CASE WHEN g = 'R' THEN 1 END) AS cr,
              COUNT(CASE WHEN g = 'N' THEN 1 END) AS cn
            FROM t GROUP BY x),
      m AS (SELECT
              SUM(cr) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
              SUM(cn) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
            FROM c),
      n AS (SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
                   CAST(SUM(cn) AS DOUBLE) AS nn FROM c)
      SELECT
        ROUND(MAX(ABS(CAST(cum_r AS DOUBLE) / nr - CAST(cum_n AS DOUBLE) / nn)), 6) AS ks_d,
        CAST(nr AS BIGINT) AS n_r,
        CAST(nn AS BIGINT) AS n_n
      FROM m CROSS JOIN n
      GROUP BY nr, nn"""),

    // Spearman rank correlation via distributed midranks: 2*midrank(v) =
    // 2*cum(v) - cnt(v) + 1 is an exact integer; the raw rows join back to
    // their value's midrank (broadcast — the distinct tables are tiny) and
    // all five moment sums are exact DECIMAL totals.
    Q.shared("q_agg_rank_corr", """
      WITH t AS (SELECT l_quantity AS x, l_discount AS y FROM lineitem),
      rx AS (SELECT x, COUNT(*) AS c FROM t GROUP BY x),
      mx AS (SELECT x, 2 * SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
             FROM rx),
      ry AS (SELECT y, COUNT(*) AS c FROM t GROUP BY y),
      my AS (SELECT y, 2 * SUM(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
             FROM ry),
      p AS (SELECT CAST(mx.r2 AS DECIMAL(18,0)) AS ax,
                   CAST(my.r2 AS DECIMAL(18,0)) AS ay
            FROM t JOIN mx ON t.x = mx.x JOIN my ON t.y = my.y),
      s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(ax) AS DOUBLE) AS sx,
              CAST(SUM(ay) AS DOUBLE) AS sy,
              CAST(SUM(ax * ay) AS DOUBLE) AS sxy,
              CAST(SUM(ax * ax) AS DOUBLE) AS sxx,
              CAST(SUM(ay * ay) AS DOUBLE) AS syy
            FROM p)
      SELECT
        ROUND((n * sxy - sx * sy)
          / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS rho,
        CAST(n AS BIGINT) AS n_rows
      FROM s"""),

    // Cramér's V (+ Bergsma bias-corrected) from the contingency table of
    // two categoricals: chi² terms go through the 1e6 fixed point so the
    // 6-cell sum is order-exact.
    Q.shared("q_agg_cramers_v", """
      WITH o AS (SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
                 FROM lineitem GROUP BY 1, 2),
      rx AS (SELECT x, SUM(c) AS cx FROM o GROUP BY 1),
      cy AS (SELECT y, SUM(c) AS cy FROM o GROUP BY 1),
      n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM o),
      chi AS (SELECT
          SUM(CAST(ROUND(
            POW(CAST(o.c AS DOUBLE) - CAST(rx.cx AS DOUBLE) * CAST(cy.cy AS DOUBLE) / n.n, 2)
            / (CAST(rx.cx AS DOUBLE) * CAST(cy.cy AS DOUBLE) / n.n) * 1000000) AS BIGINT))
          / 1000000.0 AS chi2
        FROM o JOIN rx ON o.x = rx.x JOIN cy ON o.y = cy.y CROSS JOIN n),
      d AS (SELECT CAST(COUNT(DISTINCT x) AS DOUBLE) AS r,
                   CAST(COUNT(DISTINCT y) AS DOUBLE) AS k FROM o)
      SELECT
        ROUND(SQRT(chi.chi2 / (n.n * LEAST(d.r - 1, d.k - 1))), 6) AS cramers_v,
        ROUND(SQRT(
          GREATEST(chi.chi2 / n.n - (d.r - 1) * (d.k - 1) / (n.n - 1), 0.0)
          / LEAST(d.r - 1 - POW(d.r - 1, 2) / (n.n - 1),
                  d.k - 1 - POW(d.k - 1, 2) / (n.n - 1))), 6) AS cramers_v_bc
      FROM chi CROSS JOIN n CROSS JOIN d"""),

    // Theil's U (uncertainty coefficient) U(x|y) = (H(x) - H(x|y)) / H(x).
    // Round-2/3 lesson: any formulation where LN is applied to a RATIO lets
    // the two engines' libm disagree, and U here is sample noise (~1e-6,
    // x ⊥ y in the corpus), so a quantization wiggle flips the SIGN of the
    // numerator — Spark rounds to 0.0 while DuckDB rounds to -0.0, and the
    // two stringify differently. Reformulated so LN is ONLY ever applied to
    // exact integer counts (≤ ~12 distinct values): lnfix(k) = the micro-nat
    // integer ROUND(LN(k)*1e6). Then, using
    //   N·1e6·H(x)    = N·lnfix(N) − Σ_x  c_x·lnfix(c_x)
    //   N·1e6·H(x|y)  = Σ_y c_y·lnfix(c_y) − Σ_xy c_xy·lnfix(c_xy)
    // every sum is exact BIGINT arithmetic (order-independent), and
    //   U = (lnn − sx − sy + sxy) / (lnn − sx)
    // is one division of two identical integers on both engines. The final
    // + CAST(0 AS DOUBLE) normalizes any -0.0 to 0.0. Output is DOUBLE on
    // BOTH engines (no decimal-vs-double repr skew in the driver's hash).
    Q.shared("q_agg_theils_u", """
      WITH o AS (SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
                 FROM lineitem GROUP BY 1, 2),
      rx AS (SELECT x, SUM(c) AS cx FROM o GROUP BY 1),
      cy AS (SELECT y, SUM(c) AS cyv FROM o GROUP BY 1),
      sx AS (SELECT SUM(cx * CAST(ROUND(LN(CAST(cx AS DOUBLE)) * 1000000)
               AS BIGINT)) AS s FROM rx),
      sy AS (SELECT SUM(cyv * CAST(ROUND(LN(CAST(cyv AS DOUBLE)) * 1000000)
               AS BIGINT)) AS s FROM cy),
      sxy AS (SELECT SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000)
                AS BIGINT)) AS s FROM o),
      lnn AS (SELECT SUM(c) * CAST(ROUND(LN(CAST(SUM(c) AS DOUBLE)) * 1000000)
                AS BIGINT) AS s FROM o)
      SELECT ROUND(
        CAST(lnn.s - sx.s - sy.s + sxy.s AS DOUBLE)
        / CAST(lnn.s - sx.s AS DOUBLE), 4) + CAST(0 AS DOUBLE) AS theils_u
      FROM lnn CROSS JOIN sx CROSS JOIN sy CROSS JOIN sxy"""),

    // Shannon entropy of the event-type distribution. Same 1e6 fixed point
    // as q_agg_theils_u (1e12 sat one LN ulp from a hash mismatch). The
    // CAST(SUM(..) AS DOUBLE) before the /1e6 keeps the Spark output DOUBLE
    // (BIGINT / decimal-literal would be DECIMAL — the theilsU repr trap).
    Q.shared("q_agg_entropy", """
      WITH c AS (SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1),
      n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM c)
      SELECT
        ROUND(CAST(SUM(CAST(ROUND(
          -(CAST(c AS DOUBLE) / n.n) * LN(CAST(c AS DOUBLE) / n.n)
          * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS entropy,
        CAST(COUNT(*) AS BIGINT) AS n_values
      FROM c CROSS JOIN n"""),

    // simpleLinearRegression y = slope*x + intercept over
    // (l_quantity, l_extendedprice) — regr_slope/regr_intercept semantics
    // from exact fixed-point sums (prices in cents).
    Q.shared("q_agg_simple_linreg", """
      WITH t AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yc
                 FROM lineitem),
      s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(x) AS DOUBLE) AS sx,
              CAST(SUM(yc) AS DOUBLE) / 100.0 AS sy,
              CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(yc AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS sxy,
              CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx
            FROM t)
      SELECT
        ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
        CAST(n AS BIGINT) AS n_rows
      FROM s"""),

    // avgWeighted(x, w): SUM(x*w)/SUM(w) with exact cent-sums.
    Q.shared("q_agg_avg_weighted", """
      SELECT l_returnflag,
        ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0
              / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE), 6) AS avg_weighted,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_weight
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // sumCount: (sum, count) in one pass — the tuple state emitted as two
    // columns.
    Q.shared("q_agg_sum_count", """
      SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        COUNT(l_quantity) AS cnt_val
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // studentTTest: pooled-variance two-sample t (the equal-variance twin
    // of the green q_agg_welch_ttest), from exact cent-moment sums.
    Q.shared("q_agg_student_ttest", """
      WITH g AS (SELECT CASE WHEN l_returnflag = 'R' THEN 'a' ELSE 'b' END AS grp,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc
                 FROM lineitem),
      m AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(xc) AS DOUBLE) AS s1,
              CAST(SUM(CAST(xc AS DECIMAL(18,0)) * CAST(xc AS DECIMAL(18,0))) AS DOUBLE) AS s2
            FROM g GROUP BY grp)
      SELECT
        ROUND((a.s1 / a.n - b.s1 / b.n) / 100.0
          / SQRT(((a.s2 - a.s1 * a.s1 / a.n) + (b.s2 - b.s1 * b.s1 / b.n))
                 / (a.n + b.n - 2) / 10000.0
                 * (1.0 / a.n + 1.0 / b.n)), 4) AS t_stat,
        CAST(a.n AS BIGINT) AS n_a,
        CAST(b.n AS BIGINT) AS n_b
      FROM (SELECT * FROM m WHERE grp = 'a') a
      CROSS JOIN (SELECT * FROM m WHERE grp = 'b') b"""),

    // Hypothesis tests

    // Welch t-test statistic (AggregateFunctionStudentTTest/WelchTTest):
    // composed from moment aggregates — identical arithmetic in the oracle.
    Q.shared("q_agg_welch_ttest", """
      WITH g AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 'a' ELSE 'b' END AS grp,
               l_extendedprice AS x
        FROM lineitem),
      m AS (SELECT grp, COUNT(*) AS n, AVG(x) AS mean, VAR_SAMP(x) AS v
            FROM g GROUP BY grp)
      SELECT ROUND((a.mean - b.mean)
               / SQRT(a.v / a.n + b.v / b.n), 4) AS t_stat,
             a.n AS n_a, b.n AS n_b
      FROM (SELECT * FROM m WHERE grp = 'a') a
      CROSS JOIN (SELECT * FROM m WHERE grp = 'b') b"""),

    // Mann-Whitney U statistic (AggregateFunctionMannWhitney.cpp) via
    // DISTRIBUTED midranks: aggregate per distinct value x first (shuffle
    // on x, partial-agg'd), then a prefix-sum window over the tiny
    // distinct-value table — midrank(x) = cum(x) - cnt(x) + (cnt(x)+1)/2.
    // No global window ever sees a full-input row (the round-1 form ranked
    // every lineitem row through ONE task).
    Q.shared("q_agg_mann_whitney", """
      WITH t AS (SELECT l_returnflag AS g, l_quantity AS x
                 FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      c AS (SELECT x, COUNT(*) AS cnt,
              COUNT(CASE WHEN g = 'R' THEN 1 END) AS cr
            FROM t GROUP BY x),
      m AS (SELECT x, cnt, cr,
              SUM(cnt) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM c)
      SELECT
        ROUND(SUM(CAST(cr AS DOUBLE) * (CAST(cum - cnt AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1) / 2.0))
          - CAST(SUM(cr) AS DOUBLE) * (CAST(SUM(cr) AS DOUBLE) + 1) / 2.0, 2) AS u_stat,
        CAST(SUM(cr) AS BIGINT) AS n_r,
        CAST(SUM(cnt - cr) AS BIGINT) AS n_n
      FROM m"""),

    // One-way ANOVA F statistic over price cents by returnflag
    // (registerAggregateFunctions.cpp analysisOfVariance). Between/within
    // sums from exact integer moments; the 3-term cross-group double sum
    // goes through a 1e2 fixed point (dollar-scale terms ~1e14 at sf0.1,
    // far from BIGINT overflow).
    Q.shared("q_agg_anova", """
      WITH g AS (SELECT l_returnflag AS f,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc
                 FROM lineitem),
      m AS (SELECT f, CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(xc) AS DOUBLE) / 100.0 AS s,
              CAST(SUM(CAST(xc AS DECIMAL(18,0)) * CAST(xc AS DECIMAL(18,0))) AS DOUBLE)
                / 10000.0 AS s2
            FROM g GROUP BY f),
      b AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS n,
              SUM(CAST(ROUND(s * 100.0) AS BIGINT)) / 100.0 AS s,
              SUM(CAST(ROUND(s2 / 1000.0) AS BIGINT)) * 1000.0 AS s2,
              SUM(CAST(ROUND(s * s / n * 100.0) AS BIGINT)) / 100.0 AS sb
            FROM m)
      SELECT
        ROUND(((sb - s * s / n) / (k - 1.0))
          / ((s2 - sb) / (n - k)), 6) AS f_stat,
        CAST(n AS BIGINT) AS n_rows,
        CAST(k AS BIGINT) AS n_groups
      FROM b"""),

    // meanZTest (registerAggregateFunctions.cpp meanZTest): two-sample z
    // with population variances from exact moments.
    Q.shared("q_agg_mean_ztest", """
      WITH g AS (SELECT CASE WHEN l_returnflag = 'R' THEN 'a' ELSE 'b' END AS grp,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc
                 FROM lineitem),
      m AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(xc) AS DOUBLE) AS s1,
              CAST(SUM(CAST(xc AS DECIMAL(18,0)) * CAST(xc AS DECIMAL(18,0))) AS DOUBLE) AS s2
            FROM g GROUP BY grp)
      SELECT
        ROUND((a.s1 / a.n - b.s1 / b.n)
          / SQRT((a.s2 / a.n - (a.s1 / a.n) * (a.s1 / a.n)) / a.n
               + (b.s2 / b.n - (b.s1 / b.n) * (b.s1 / b.n)) / b.n), 4) AS z_stat,
        CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
      FROM (SELECT * FROM m WHERE grp = 'a') a
      CROSS JOIN (SELECT * FROM m WHERE grp = 'b') b""")
  )
}
