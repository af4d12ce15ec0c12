package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.sql.ClickHouseSql

/** One statement the client sends. `kind` picks the entry point and the
  * layer span the call is recorded under:
  *   - `query`: `text` names a `graft.SparkEntry.queries` function;
  *   - `read`, `insert`, `mutation`, `ddl`: `text` is ClickHouse SQL sent
  *     through `graft.sql.ClickHouseSql.sql`. */
final case class Stmt(label: String, kind: String, text: String)

/** One operation of the ingest sequence, replayed by the checker against an
  * independent engine: `insert` of the lineitem key range [lo, hi), an
  * `update`/`delete` with a predicate, or a `read` of table `mt`/`lake`. */
final case class IngestOp(op: String, lo: Long = 0, hi: Long = 0,
    where: String = "", table: String = "", step: Int = 0)

sealed trait Workload {
  def name: String
  def sf: String
  /** The statements of one pass, in the seed's order. Every pass of a run
    * repeats the same list, so per-pass counters can repeat exactly. */
  def pass(seed: Long): Seq[Stmt]
}

/** A fixed set of battery queries in a seeded order; each output is checked
  * against the query's DuckDB oracle. */
final case class QueryMix(name: String, sf: String, queries: Seq[String])
    extends Workload {
  def pass(seed: Long): Seq[Stmt] =
    new Random(seed).shuffle(queries).map(q => Stmt(q, "query", q))
}

/** Writes next to reads, all as ClickHouse text: a MergeTree table and a
  * Delta table receive the same seeded lineitem key ranges; after each
  * batch the MergeTree table gets an ALTER UPDATE or DELETE (alternating,
  * with seeded predicates), and both tables are read back with an
  * aggregate. The MergeTree columns keep lineitem's own order and the
  * INSERTs are positional. The table is partitioned by its last column,
  * `l_linestatus`: a positional INSERT into a table partitioned by an
  * earlier column binds against Spark's catalog schema, which moves the
  * partition column last, and lands values in the wrong columns. That
  * defect is reproduced apart from the timed statements
  * (`KnownDefects`). */
final case class IngestMutate(lakeDir: String) extends Workload {
  val name = "ingest_mutate"
  val sf = "sf0.1"
  val batches = 2
  /** Width of one batch in `l_orderkey` units: the keys run 0..149999 at
    * sf0.1 with four lines each, so a batch is 1/24 of lineitem. */
  val width = 6250L
  val table = "perfbench_ingest_mt"
  val columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus")
  private val colDefs = Seq("Int64", "Int64", "Int64", "Int32", "Float64",
    "Float64", "Float64", "Float64", "String", "String")
  private val lake = s"deltaLake('$lakeDir')"

  def ops(seed: Long): Seq[IngestOp] = {
    val rnd = new Random(seed)
    // disjoint batch slots of `width` keys, in a seeded order
    val slots = rnd.shuffle((0 until 24).toList).take(batches)
    slots.zipWithIndex.flatMap { case (slot, b) =>
      val lo = slot * width
      val ins = IngestOp("insert", lo = lo, hi = lo + width)
      // updates touch every partition, deletes one linestatus partition
      val line = 1 + rnd.nextInt(7)
      val mut =
        if (b % 2 == 0)
          IngestOp("update", where =
            s"l_quantity < ${5 + rnd.nextInt(20)} AND l_linenumber = $line")
        else
          IngestOp("delete", where = s"l_linestatus = " +
            s"'${Seq("F", "O")(rnd.nextInt(2))}' AND l_linenumber = $line")
      Seq(ins, mut, IngestOp("read", table = "mt", step = b),
        IngestOp("read", table = "lake", step = b))
    }
  }

  def readSql(from: String): String =
    "SELECT l_returnflag, l_linestatus, count() AS n, " +
      "sum(l_quantity) AS qty, " +
      "sum(CAST(l_extendedprice AS Decimal(18, 2))) AS price, " +
      "sum(CAST(l_discount AS Decimal(18, 2))) AS disc " +
      s"FROM $from GROUP BY l_returnflag, l_linestatus " +
      "ORDER BY l_returnflag, l_linestatus"

  def pass(seed: Long): Seq[Stmt] = {
    val cols = columns.mkString(", ")
    val defs = columns.zip(colDefs).map { case (c, t) => s"$c $t" }
      .mkString(", ")
    Seq(
      Stmt("drop", "ddl", s"DROP TABLE IF EXISTS $table"),
      Stmt("create", "ddl", s"CREATE TABLE $table ($defs) ENGINE = MergeTree " +
        "PARTITION BY l_linestatus ORDER BY (l_orderkey, l_linenumber)")
    ) ++ ops(seed).flatMap { o =>
      o.op match {
        case "insert" =>
          val src = s"SELECT $cols FROM lineitem " +
            s"WHERE l_orderkey >= ${o.lo} AND l_orderkey < ${o.hi}"
          Seq(Stmt("insert_mt", "insert", s"INSERT INTO $table $src"),
            Stmt("insert_lake", "insert", s"INSERT INTO FUNCTION $lake $src"))
        case "update" => Seq(Stmt("update_mt", "mutation",
          s"ALTER TABLE $table UPDATE l_discount = 0 WHERE ${o.where}"))
        case "delete" => Seq(Stmt("delete_mt", "mutation",
          s"ALTER TABLE $table DELETE WHERE ${o.where}"))
        case _ => Seq(Stmt(s"read_${o.table}_${o.step}", "read",
          readSql(if (o.table == "mt") table else lake)))
      }
    }
  }
}

/** Engine defects that the timed statements do not exercise, reproduced
  * once per `ingest_mutate` run after the timed passes. They count in no
  * metric and not in `correct`; the report says whether each still
  * reproduces, so the run that fixes one shows it. */
object KnownDefects {
  val Table = "perfbench_defect_pb"

  /** A positional INSERT into a MergeTree table whose PARTITION BY column
    * is not last in its declared column list binds against Spark's catalog
    * schema, which moves partition columns last: `flag` reads back the
    * value given for `note` and the other way round. */
  def positionalInsertPartitionNotLast(spark: SparkSession): Map[String, Any] = {
    val stmts = Seq(s"DROP TABLE IF EXISTS $Table",
      s"CREATE TABLE $Table (k Int64, flag String, note String) " +
        "ENGINE = MergeTree PARTITION BY flag ORDER BY k",
      s"INSERT INTO $Table VALUES (1, 'A', 'hello')")
    val expected = "k=1 flag=A note=hello"
    val got =
      try {
        stmts.foreach(q => ClickHouseSql.sql(spark, q).collect())
        ClickHouseSql.sql(spark, s"SELECT k, flag, note FROM $Table")
          .collect().map(r => s"k=${r(0)} flag=${r(1)} note=${r(2)}")
          .mkString("; ")
      } catch { case e: Throwable => s"error: $e" }
    Map("name" -> "positional_insert_partition_not_last",
      "statements" -> stmts, "expected" -> expected, "got" -> got,
      "reproduced" -> (got != expected))
  }
}

object Workloads {
  /** Battery headliners (`graft.Bench.headline`) at sf0.1: a part of the
    * 35 whose warm pass takes about 3.5 s on four cores, so that a run,
    * cold start included, fits the benchmark's time budget. It leaves out
    * the queries that build artifacts outside the working directory (the
    * text-index ones) and the heavy eager operators (quantiles, components,
    * MinHash, running sums: 4-6 s each). The set mixes a scan/aggregate, the
    * multi-needle search kernel, the lazy top-N and LIMIT BY operators with
    * their eager jobs, and the ASOF dialect path with a 100k-row collect. */
  val olapHeadline = QueryMix("olap_headline", "sf0.1", Seq(
    "q6_forecast_revenue", "q_limit_by", "q_lazy_topk",
    "q_ch_multisearch_many", "q_ch_asof_sql"))

  def byName(name: String, outDir: String): Workload = name match {
    case "olap_headline" => olapHeadline
    case "ingest_mutate" => IngestMutate(s"$outDir/lake/ingest_delta")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
