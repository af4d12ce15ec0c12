package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => qp}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's query + oracle from the per-area
  * query packs (graft.queries.*). Each pack entry corresponds to a line of
  * the SURVEY.md §2 operator inventory.
  */
object SparkEntry {

  /** All query packs, grouped by the SURVEY §2 subsystem they exercise. */
  def packs: Seq[QueryPack] = Seq(
    // relational core: scans, joins, set operations
    qp.Relational,
    qp.TpchExtra,
    qp.JoinExtras,
    qp.JoinSqlQueries,
    qp.SetOps,
    // aggregation
    qp.AggFunctions,
    qp.StatAggregates,
    qp.MlQueries,
    // windows and sorts
    qp.WindowQueries,
    qp.TimeWindows,
    qp.SortLimit,
    // the scalar function surface
    qp.ScalarFunctions,
    qp.WideIntQueries,
    qp.BitmapQueries,
    // the ClickHouse dialect and its translators
    qp.DialectQueries,
    qp.KqlQueries,
    // formats, storages and tables
    qp.Formats,
    qp.CodecQueries,
    qp.StorageQueries,
    qp.Lakehouse,
    qp.MutationQueries,
    qp.LifecycleQueries,
    // indexes
    qp.IndexQueries,
    // training-data pipelines
    qp.Dedup,
    qp.TextPipeline
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qp.Relational.q5DataFrame(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.queries).flatMap(q => q.oracle.map(q.name -> _)).toMap
}
