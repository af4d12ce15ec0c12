package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query with an optional DuckDB oracle.
  *
  * The driver's correctness gate (see README/BASELINE) runs every query at
  * sf0.01, dumps the result to parquet, runs `oracle` in DuckDB over the same
  * parquet corpus and hash-compares values with columns sorted by name.
  *
  * Determinism rules every query here follows:
  *   - SUM over doubles goes through `CAST(x AS DECIMAL(18,k))` so the sum is
  *     exact and independent of partial-aggregation order (Spark shuffles,
  *     DuckDB doesn't — naive double sums would differ in the last ulps).
  *   - every output is totally ordered by an explicit ORDER BY (with
  *     NULLS FIRST spelled out where a sort key can be null: Spark defaults
  *     to NULLS FIRST ascending, DuckDB to NULLS LAST).
  *   - aggregate outputs are explicitly CAST — DuckDB's SUM(int) is HUGEINT,
  *     Spark's is BIGINT; column types must line up for the schema check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {

  /** SQL text valid in BOTH Spark SQL and DuckDB — one string is both the
    * implementation (declarative → Catalyst optimizes freely) and the oracle.
    */
  def shared(name: String, sql: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); s.sql(sql) }, Some(sql))

  /** Spark SQL implementation with a separately-worded DuckDB oracle (used
    * when the dialects diverge: quantiles, list functions, etc.). */
  def sparkSql(name: String, sql: String, oracle: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); s.sql(sql) }, Some(oracle))

  /** DataFrame/Dataset-API implementation with a DuckDB oracle. */
  def df(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); fn(s, dir) }, Some(oracle))

  /** ClickHouse-dialect SQL run through [[graft.sql.ClickHouseSql]] with a
    * separately-worded DuckDB oracle. */
  def ch(name: String, chSql: String, oracle: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); graft.sql.ClickHouseSql.sql(s, chSql) },
      Some(oracle))
}

/** Scratch directories of the fixtures the queries, specs and the bench
  * write: `/tmp/graft_<tag>_<key>`, where the key is the corpus directory
  * with every character outside [A-Za-z0-9] replaced by `_`, so each
  * corpus gets its own copy; each fixture picks its own tag. */
object Scratch {

  /** The corpus-directory part of every scratch path. */
  def key(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  def path(tag: String, dir: String): String = s"/tmp/graft_${tag}_${key(dir)}"

  /** [[path]], with whatever an earlier run left there deleted first. */
  def fresh(s: SparkSession, tag: String, dir: String): String = {
    val p = path(tag, dir)
    fs(s, p).delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  /** The Hadoop file system that holds `p`. */
  def fs(s: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)
}

trait QueryPack {
  def queries: Seq[Q]
}
