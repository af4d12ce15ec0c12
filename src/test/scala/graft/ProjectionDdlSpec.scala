package graft

import graft.sql.ClickHouseSql
import org.apache.spark.sql.functions._

/** ALTER TABLE ... ADD/DROP/MATERIALIZE PROJECTION DDL wired onto the two
  * projection rewrite rules (reference ParserProjectionDeclaration). */
class ProjectionDdlSpec extends SparkFunSuite {

  private def ch(s: String) = ClickHouseSql.sql(spark, s)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(" ")).toSeq

  private def warehouse(name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  /** Where the rollup of `t`'s projection `p` is built. */
  private def rollupDir(t: String, p: String): String =
    warehouse(s"graft_projections/${t}_$p").toUri.getPath

  /** Runs `body` on no table `t`; afterwards the dialect DROP unbuilds
    * what `t` declared and the warehouse keeps no dir of it. */
  private def withTable(t: String)(body: => Unit): Unit = {
    def clean(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val fs = warehouse(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("", "_dropped").foreach(sfx => fs.delete(warehouse(t + sfx), true))
    }
    clean()
    try body finally { ch(s"DROP TABLE IF EXISTS $t"); clean() }
  }

  /** A table whose GROUP BY d and GROUP BY e each have a rollup. */
  private def twoRollups(t: String): Unit = {
    ch(s"CREATE TABLE $t (d String, e String, x Int64) ENGINE = MergeTree ORDER BY d")
    ch(s"INSERT INTO $t VALUES ('a', 'u', 1), ('a', 'v', 2), ('b', 'u', 3), " +
      "('b', 'v', 4), ('b', 'v', 5)")
    ch(s"ALTER TABLE $t ADD PROJECTION p1 (SELECT d, sum(x) GROUP BY d)")
    ch(s"ALTER TABLE $t ADD PROJECTION p2 (SELECT e, sum(x) GROUP BY e)")
  }

  private def byKey(t: String, k: String) =
    ch(s"SELECT $k, count() AS n, sum(x) AS s FROM $t GROUP BY $k ORDER BY $k")

  test("several aggregate projections: each GROUP BY reads its own rollup") {
    withTable("pddl_two") {
      twoRollups("pddl_two")
      assert(readRoots(byKey("pddl_two", "d")) == Seq(rollupDir("pddl_two", "p1")))
      assert(readRoots(byKey("pddl_two", "e")) == Seq(rollupDir("pddl_two", "p2")))
      assert(rows(byKey("pddl_two", "d")) == Seq("a 2 3", "b 3 12"))
      assert(rows(byKey("pddl_two", "e")) == Seq("u 2 4", "v 3 11"))
      // DROP takes its own rollup, and the rollup's files, and no other
      ch("ALTER TABLE pddl_two DROP PROJECTION p2")
      assert(readRoots(byKey("pddl_two", "d")) == Seq(rollupDir("pddl_two", "p1")))
      assert(!new java.io.File(rollupDir("pddl_two", "p2")).exists,
        "the dropped projection's rollup dir is still in the warehouse")
      assert(rows(byKey("pddl_two", "e")) == Seq("u 2 4", "v 3 11"))
    }
  }

  test("a partition filter keeps a partitioned table's rollup") {
    withTable("pddl_part") {
      ch("CREATE TABLE pddl_part (s String, flag String, x Int64) ENGINE = MergeTree " +
        "PARTITION BY flag ORDER BY s")
      ch("INSERT INTO pddl_part VALUES ('x1', 'A', 1), ('x2', 'B', 2), ('x3', 'A', 3)")
      ch("ALTER TABLE pddl_part ADD PROJECTION pr (SELECT flag, sum(x) GROUP BY flag)")
      val all = ch("SELECT flag, count() AS n, sum(x) AS s FROM pddl_part GROUP BY flag ORDER BY flag")
      val a = ch("SELECT flag, count() AS n, sum(x) AS s FROM pddl_part WHERE flag = 'A' GROUP BY flag")
      assert(readRoots(all) == Seq(rollupDir("pddl_part", "pr")))
      assert(readRoots(a) == Seq(rollupDir("pddl_part", "pr")))
      assert(rows(all) == Seq("A 2 4", "B 1 2"))
      assert(rows(a) == Seq("A 2 4"))
    }
  }

  test("mutations rebuild every projection of a table — no stale rollup answers") {
    withTable("pddl_mut2") {
      twoRollups("pddl_mut2")
      assert(rows(byKey("pddl_mut2", "d")) == Seq("a 2 3", "b 3 12"))
      ch("ALTER TABLE pddl_mut2 DELETE WHERE x = 5")
      assert(rows(byKey("pddl_mut2", "d")) == Seq("a 2 3", "b 2 7"))
      assert(rows(byKey("pddl_mut2", "e")) == Seq("u 2 4", "v 2 6"))
      assert(readRoots(byKey("pddl_mut2", "d")) == Seq(rollupDir("pddl_mut2", "p1")))
      assert(readRoots(byKey("pddl_mut2", "e")) == Seq(rollupDir("pddl_mut2", "p2")))
    }
  }

  test("DROP PROJECTION of one sorted copy drops its own table and keeps the other") {
    withTable("pddl_n2") {
      ch("CREATE TABLE pddl_n2 (k1 Int64, k2 Int64, x Int64) ENGINE = MergeTree ORDER BY k1")
      ch("INSERT INTO pddl_n2 VALUES (1, 10, 1), (2, 20, 2), (3, 10, 3)")
      ch("ALTER TABLE pddl_n2 ADD PROJECTION p1 (SELECT * ORDER BY k1)")
      ch("ALTER TABLE pddl_n2 ADD PROJECTION p2 (SELECT * ORDER BY k2)")
      def plan(k: String) = spark.table("pddl_n2").groupBy(k).agg(sum("x"))
        .queryExecution.optimizedPlan.toString
      assert(plan("k1").contains("pddl_n2__proj_p1"))
      assert(plan("k2").contains("pddl_n2__proj_p2"))
      ch("ALTER TABLE pddl_n2 DROP PROJECTION p1")
      assert(plan("k2").contains("pddl_n2__proj_p2"))
      assert(!plan("k1").contains("__proj_"))
      assert(!spark.catalog.tableExists("pddl_n2__proj_p1"))
    }
  }

  test("aggregate-projection DDL: GROUP BY answers from the rollup") {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, """
      CREATE MATERIALIZED VIEW pddl_t AS
      SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem""")
    ClickHouseSql.sql(spark, """
      ALTER TABLE pddl_t ADD PROJECTION p1 (
        SELECT l_returnflag, sum(l_quantity), count()
        GROUP BY l_returnflag, l_linestatus)""")
    try {
      val q = ClickHouseSql.sql(spark, """
        SELECT l_returnflag, count() AS n, CAST(sum(l_quantity) AS DOUBLE) AS q
        FROM pddl_t GROUP BY l_returnflag ORDER BY l_returnflag""")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sum_l_quantity"),
        s"DDL-declared projection did not rewrite the aggregate:\n$plan")
      // values equal the direct aggregate
      val direct = spark.table("pddl_t").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("double").as("q"))
        .orderBy("l_returnflag").collect().map(_.toString).toSeq
      assert(q.collect().map(_.toString).toSeq == direct)
      // MATERIALIZE is an accepted no-op
      val st = ClickHouseSql.sql(spark,
        "ALTER TABLE pddl_t MATERIALIZE PROJECTION p1").collect()
      assert(st.head.getString(0) == "OK")
    } finally ClickHouseSql.sql(spark, "ALTER TABLE pddl_t DROP PROJECTION p1")
    // after DROP the rewrite no longer fires
    val after = ClickHouseSql.sql(spark, """
      SELECT l_returnflag, count() AS n FROM pddl_t
      GROUP BY l_returnflag ORDER BY l_returnflag""")
    assert(!after.queryExecution.optimizedPlan.toString.contains("__cnt"))
  }

  test("mutations rebuild registered projections — no stale rollup answers") {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, "DROP TABLE IF EXISTS pddl_mut")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "pddl_mut")
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    ClickHouseSql.sql(spark, """
      CREATE MATERIALIZED VIEW pddl_mut AS
      SELECT n_nationkey, n_regionkey FROM nation""")
    ClickHouseSql.sql(spark, """
      ALTER TABLE pddl_mut ADD PROJECTION byreg
      (SELECT n_regionkey, sum(n_nationkey) GROUP BY n_regionkey)""")
    try {
      def probe(): Map[Int, Long] = ClickHouseSql.sql(spark, """
        SELECT n_regionkey, count() AS n FROM pddl_mut
        GROUP BY n_regionkey ORDER BY n_regionkey""")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(probe()(4) == 5L)
      // the mutation deletes region 4; the projection MUST follow —
      // a stale rollup would keep answering 5
      ClickHouseSql.sql(spark, "ALTER TABLE pddl_mut DELETE WHERE n_regionkey = 4")
      val after = probe()
      assert(!after.contains(4), s"stale projection after mutation: $after")
      assert(after(0) == 5L)
    } finally ClickHouseSql.sql(spark,
      "ALTER TABLE pddl_mut DROP PROJECTION byreg")
  }

  test("normal-projection DDL: ORDER BY body creates the bucketed layout") {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, """
      CREATE MATERIALIZED VIEW pddl_n AS
      SELECT l_orderkey, l_quantity FROM lineitem""")
    ClickHouseSql.sql(spark, """
      ALTER TABLE pddl_n ADD PROJECTION byorder (SELECT * ORDER BY l_orderkey)""")
    try {
      val q = spark.table("pddl_n").groupBy("l_orderkey")
        .agg(sum("l_quantity").as("q"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("pddl_n__proj_byorder"),
        s"DDL-declared normal projection did not substitute the layout:\n$plan")
      assert(!q.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally ClickHouseSql.sql(spark,
      "ALTER TABLE pddl_n DROP PROJECTION byorder")
  }
}
