package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.matching.Regex

/** The relations one dialect statement reads by a SQL name. A table
  * function, an ASOF/PASTE join result, a PRQL loop frontier or a system
  * table is a DataFrame the rewritten statement names in its text; `bind`
  * gives it a fresh name. The names belong to the `sqlImpl` invocation
  * that made the scope and are dropped when it returns its DataFrame: by
  * then Spark has analyzed every plan that reads them, and an analyzed
  * plan holds the view's plan, not its name (the reference's table
  * functions likewise make a storage that lives as long as its query,
  * ITableFunction, never a catalog entry). The scope is passed along, not
  * kept per thread, because PARALLEL WITH runs its legs on pool threads. */
final class Scope(val spark: SparkSession) {
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh SQL name for `df`, valid until `close`. */
  def bind(df: DataFrame): String = {
    val name = s"graft_rel_${Scope.counter.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    synchronized(names += name)
    name
  }

  /** Drops every name `bind` gave out. Only the catalog entry goes:
    * nothing caches a bound name, so the public `dropTempView`'s uncache
    * pass (which re-analyzes the view's plan) would find nothing. */
  def close(): Unit = synchronized {
    names.foreach(spark.sessionState.catalog.dropTempView)
    names.clear()
  }
}

private object Scope {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
}

/** A statement one row of the statement table matched: the statement's
  * scope, the text the row read, and the row's groups, 1-based (null
  * when a group took no part in the match). */
private[sql] final case class Hit(scope: Scope, text: String,
    groups: IndexedSeq[String]) {
  val spark: SparkSession = scope.spark
  def apply(i: Int): String = groups(i - 1)
  def opt(i: Int): Option[String] = Option(groups(i - 1))
  def ok: DataFrame = Lane.ok(spark)
}

/** One row of the statement table: a statement shape, compiled once,
  * and the handler that reads its groups. A handler answering None
  * passes the statement on to the next row. A `raw` row reads the
  * statement before the SELECT-side preparation (ClickHouseSql.prepare). */
private[sql] final case class Lane(shape: Regex, raw: Boolean,
    run: Hit => Option[DataFrame])

private[sql] object Lane {

  /** Shapes are case-insensitive and dot-all, and match the whole
    * statement; `<t>` is a table name, `<c>` a column name and `<end>`
    * an optional trailing semicolon. */
  def shape(s: String): Regex = ("(?is)" + s
    .replace("<t>", "[A-Za-z_][A-Za-z0-9_.]*")
    .replace("<c>", "[A-Za-z_][A-Za-z0-9_]*")
    .replace("<end>", "\\s*;?\\s*$")).r

  def lane(s: String, raw: Boolean = false)(run: Hit => DataFrame): Lane =
    Lane(shape(s), raw, h => Some(run(h)))

  def maybe(s: String, raw: Boolean = false)(
      run: Hit => Option[DataFrame]): Lane = Lane(shape(s), raw, run)

  /** The statement starts like one of a family's rows but none of them
    * took it: fail loudly rather than hand it to Spark's parser. */
  def reject(s: String, what: String, raw: Boolean = false): Lane =
    lane(s, raw)(_ => throw new IllegalArgumentException(s"unsupported $what"))

  /** The one-row `status` frame a statement without a result answers. */
  def ok(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("OK").toDF("status")
  }
}
