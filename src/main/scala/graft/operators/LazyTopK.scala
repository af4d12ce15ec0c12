package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lazy materialization for top-N — the reference's
  * optimizeLazyMaterialization (src/Processors/QueryPlan/Optimizations/
  * optimizeLazyMaterialization.cpp, pass list Optimizations.h:134-142):
  * an `ORDER BY s LIMIT k` over a wide table should not read the wide
  * columns for every row; only the k winners ever need them.
  *
  * Spark rendering, two scans of the same parquet, both reading the
  * memoized schema (`Tables.readParquet`: no schema-inference job):
  *   1. NARROW scan (key + sort columns only — column pruning keeps the
  *      I/O to two columns) → TakeOrderedAndProject(k) → the winning keys
  *      collect to the driver (bounded: k values, a plan decision);
  *   2. WIDE scan with `key IN (winners)` — the literal IN-list reaches
  *      parquet as a pushed filter, so row groups without winners are
  *      skipped by min/max stats: the wide columns are read for ~k rows,
  *      not the corpus. It emits with `orderBy(…).limit(k)`, one
  *      TakeOrderedAndProject job instead of a range sort's sample, map
  *      and result jobs; the IN-list holds exactly the k winners' unique
  *      keys, so the limit drops no row.
  *
  * At 100 TB with document-sized text columns and top-100 queries this is
  * the difference between streaming the corpus through the sort and
  * reading two slim columns plus k rows. Requires a unique `keyCol`
  * (every corpus table has one); ties on the sort column must be broken
  * by the key for the result to be deterministic.
  */
object LazyTopK {

  def topK(spark: SparkSession, path: String, keyCol: String,
      sortCol: String, descending: Boolean, k: Int,
      projectCols: Seq[String]): DataFrame = {
    val ord: Seq[Column] =
      if (descending) Seq(col(sortCol).desc, col(keyCol).asc)
      else Seq(col(sortCol).asc, col(keyCol).asc)
    val winnerRows = graft.Tables.readParquet(spark, path)
      .select(keyCol, sortCol)
      .orderBy(ord: _*)
      .limit(k)
      .collect()
    val winners = winnerRows.map(_.get(0))
    // Winners also bound the SORT column, and that bound is pushable:
    // on a sort-column-clustered layout (the layout a top-N-heavy table
    // wants) parquet row-group stats then skip every group outside the
    // winning tail, so the wide columns decode for ~k-row neighborhoods
    // instead of every group the IN-list can't exclude. Superset-safe by
    // construction (every winner satisfies it); skipped if any winner's
    // sort value is null (nulls sort last and would fail the bound).
    val sortVals = winnerRows.map(_.get(1))
    val bound: Option[Column] =
      if (winnerRows.isEmpty || sortVals.contains(null)) None
      else if (descending) Some(col(sortCol) >= lit(sortVals.last))
      else Some(col(sortCol) <= lit(sortVals.last))
    val base = graft.Tables.readParquet(spark, path)
      .filter(col(keyCol).isin(winners: _*))
    bound.fold(base)(b => base.filter(b))
      .orderBy(ord: _*)
      .limit(k)
      .select(projectCols.map(col): _*)
  }
}
