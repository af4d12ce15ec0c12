package graft.queries

import graft.{Q, QueryPack}

/** The reference's join-strictness SQL SPELLINGS running end-to-end
  * through the dialect front-end (round-13 — the round-12 verdict's top
  * parity item): `ASOF [LEFT] JOIN … ON eq AND ineq` (ParserJoin +
  * src/Core/Joins.h:78 inequality catalog), `PASTE JOIN`
  * (src/Interpreters/PasteJoin.h:20), `[LEFT|RIGHT] ANY JOIN`
  * (src/Core/Joins.h:44). The SEMANTICS were already oracled through the
  * DataFrame operators (q_asof_join / q_paste_join / q_any_join in
  * JoinExtras); these queries prove the reference's own SYNTAX reaches
  * the same operators (sql/JoinSpellings.scala).
  */
object JoinSqlQueries extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // ASOF LEFT JOIN through the dialect: latest order at-or-before each
    // event. Equal-date ties resolve to the max orderkey (the rewrite's
    // deterministic tiebreak is the lexicographic max over the right
    // side's columns in scan order — (ck, od, ok) ⇒ max ok), which the
    // oracle states directly.
    Q.ch("q_ch_asof_sql", """
      SELECT user_id, event_id, r.od AS asof_date, r.ok AS asof_order
      FROM events ASOF LEFT JOIN (
        SELECT o_custkey AS ck, o_orderdate AS od, o_orderkey AS ok
        FROM orders) r
      ON user_id = r.ck AND ts >= r.od
      ORDER BY user_id, event_id""",
      """
      WITH m AS (
        SELECT user_id, event_id,
          (SELECT MAX(o_orderdate) FROM orders
           WHERE o_custkey = e.user_id AND o_orderdate <= e.ts) AS asof_date
        FROM events e)
      SELECT m.user_id, m.event_id, m.asof_date,
        (SELECT MAX(o_orderkey) FROM orders
         WHERE o_custkey = m.user_id AND o_orderdate = m.asof_date) AS asof_order
      FROM m
      ORDER BY user_id, event_id"""),

    // bare ASOF JOIN = INNER (the reference's default kind): events whose
    // user has no qualifying at-or-before order DROP — the right side is
    // restricted to 400k+ orders so ~13% of users genuinely miss and the
    // INNER filter carries hash signal (every user has SOME order, so an
    // unrestricted right side would make INNER == LEFT). Inequality
    // written from the right side (`r.od <= ts`) to pin the
    // operand-order normalization.
    Q.ch("q_ch_asof_inner_sql", """
      SELECT user_id, event_id, r.od AS asof_date
      FROM events ASOF JOIN (
        SELECT o_custkey AS ck, o_orderdate AS od, o_orderkey AS ok
        FROM orders WHERE o_totalprice > 400000) r
      ON user_id = r.ck AND r.od <= ts
      ORDER BY user_id, event_id""",
      """
      WITH m AS (
        SELECT user_id, event_id,
          (SELECT MAX(o_orderdate) FROM orders
           WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
             AND o_totalprice > 400000) AS asof_date
        FROM events e)
      SELECT user_id, event_id, asof_date
      FROM m WHERE asof_date IS NOT NULL
      ORDER BY user_id, event_id"""),

    // PASTE JOIN through the dialect: positional zip of two ordered
    // subqueries — ascending custkeys zipped against descending ones.
    // The oracle spells the positional zip with row_number.
    Q.ch("q_ch_paste_sql", """
      SELECT ck, nk
      FROM (SELECT c_custkey AS ck FROM customer ORDER BY c_custkey) a
      PASTE JOIN (
        SELECT c_custkey AS nk FROM customer ORDER BY c_custkey DESC) b
      ORDER BY ck""",
      """
      WITH a AS (SELECT c_custkey AS ck,
                   row_number() OVER (ORDER BY c_custkey) AS rn
                 FROM customer),
           b AS (SELECT c_custkey AS nk,
                   row_number() OVER (ORDER BY c_custkey DESC) AS rn
                 FROM customer)
      SELECT ck, nk FROM a JOIN b USING (rn) ORDER BY ck"""),

    // ANY LEFT JOIN through the dialect: one lineitem per order — the
    // deterministic lexicographic-min row over lineitem's column order,
    // which the oracle's row_number window states explicitly.
    Q.ch("q_ch_any_sql", """
      SELECT o_orderkey, l.l_partkey AS any_part, l.l_quantity AS any_qty
      FROM orders ANY LEFT JOIN lineitem l ON o_orderkey = l.l_orderkey
      WHERE o_orderkey <= 2000
      ORDER BY o_orderkey""",
      """
      SELECT o_orderkey, l.l_partkey AS any_part, l.l_quantity AS any_qty
      FROM orders LEFT JOIN (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
              l_quantity, l_extendedprice, l_discount, l_tax,
              l_returnflag, l_linestatus, l_shipdate) AS rn
          FROM lineitem) t WHERE rn = 1) l
      ON o_orderkey = l.l_orderkey
      WHERE o_orderkey <= 2000
      ORDER BY o_orderkey"""),

    // ANY RIGHT JOIN (RightAny): every supplier exactly once, matched to
    // at most one (lexicographic-min) lineitem.
    Q.ch("q_ch_any_right_sql", """
      SELECT s_suppkey, s_name, l.l_orderkey AS any_order
      FROM lineitem l ANY RIGHT JOIN supplier s ON l.l_suppkey = s_suppkey
      ORDER BY s_suppkey""",
      """
      SELECT s_suppkey, s_name, l.l_orderkey AS any_order
      FROM (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY l_suppkey
            ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
              l_quantity, l_extendedprice, l_discount, l_tax,
              l_returnflag, l_linestatus, l_shipdate) AS rn
          FROM lineitem) t WHERE rn = 1) l
      RIGHT JOIN supplier s ON l.l_suppkey = s_suppkey
      ORDER BY s_suppkey""")
  )
}
