package graft

import graft.sql.ClickHouseSql

/** The dialect's statement table (ClickHouseSql.statements): rows are
  * tried in order and the first whole-statement match runs, so the
  * neighbours whose shapes overlap are pinned here, along with the
  * family rejects, the mutation ledger text, the FROM INFILE binding,
  * the system-table snapshots, and guards that keep re-parsing out of
  * the dispatch and temp views out of the dialect layer. */
class StatementTableSpec extends SparkFunSuite {

  private def ch(s: String) = ClickHouseSql.sql(spark, s)

  /** Drops `t` and whatever a managed table or DROP TABLE left of it in
    * the warehouse, so a CREATE of the name starts clean. */
  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(wh, true)
    fs.delete(new org.apache.hadoop.fs.Path(wh.toString + "_dropped"), true)
  }

  private def withTables(ts: String*)(body: => Unit): Unit = {
    ts.foreach(dropTable)
    try body finally ts.foreach(dropTable)
  }

  private def mkBase(t: String): Unit = {
    ch(s"CREATE TABLE $t (k Int64, v String) ENGINE = MergeTree ORDER BY k")
    ch(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
  }

  test("CREATE TABLE a AS b clones the schema; CTAS copies rows; ENGINE records metadata") {
    withTables("st_base", "st_clone", "st_ctas") {
      mkBase("st_base")
      assert(ch("SHOW CREATE TABLE st_base").collect().head.getString(0)
        .contains("ORDER BY k"))
      ch("CREATE TABLE st_clone AS st_base")
      assert(spark.table("st_clone").columns.toSeq == Seq("k", "v"))
      assert(spark.table("st_clone").count() == 0L)
      ch("CREATE TABLE st_ctas AS SELECT * FROM st_base WHERE k > 1")
      assert(spark.table("st_ctas").count() == 2L)
    }
  }

  test("DROP VIEW: a parameterized view, then a live view, then Spark's catalog view") {
    withTables("st_lv_src") {
      ch("CREATE VIEW st_pv AS SELECT id FROM range(10) WHERE id < {n:UInt32}")
      assert(ch("SELECT count(*) FROM st_pv(n = 3)").collect().head.getLong(0) == 3L)
      assert(ch("DROP VIEW st_pv").columns.toSeq == Seq("status"))
      intercept[Exception](ch("SELECT count(*) FROM st_pv(n = 3)").collect())

      mkBase("st_lv_src")
      ch("CREATE LIVE VIEW st_lv AS SELECT count(*) AS c FROM st_lv_src")
      assert(graft.sql.LiveViews.contains("st_lv"))
      assert(ch("DROP VIEW st_lv").columns.toSeq == Seq("status"))
      assert(!graft.sql.LiveViews.contains("st_lv"))

      ch("CREATE VIEW st_cv AS SELECT 1 AS a")
      assert(spark.catalog.tableExists("st_cv"))
      ch("DROP VIEW st_cv")
      assert(!spark.catalog.tableExists("st_cv"))
    }
  }

  test("EXPLAIN indexes = 1, ESTIMATE and SYNTAX come before bare EXPLAIN") {
    withTables("st_ex") {
      mkBase("st_ex")
      val q = "SELECT * FROM st_ex WHERE k = 1"
      assert(ch(s"EXPLAIN indexes = 1 $q").columns.toSeq == Seq("data_path",
        "index_type", "columns", "files_admitted", "files_total"))
      val est = ch(s"EXPLAIN ESTIMATE $q")
      assert(est.columns.toSeq == Seq("database", "table", "parts", "rows", "marks"))
      assert(est.collect().head.getAs[Long]("rows") == 3L)
      assert(ch(s"EXPLAIN SYNTAX $q").columns.toSeq == Seq("rewritten"))
      assert(ch(s"EXPLAIN PLAN $q").columns.toSeq == Seq("plan"))
    }
  }

  test("DELETE FROM FUNCTION hudi(…) takes the lakehouse row; DELETE FROM t the mutation") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("st_hudi").toString
    withTables("st_del") {
      try {
        graft.sources.HudiSink.upsert(Seq(("k1", 1L), ("k2", 2L), ("k3", 3L))
          .toDF("_hoodie_record_key", "id"), dir)
        val lake = ch(s"DELETE FROM FUNCTION hudi('$dir') WHERE id = 2")
        assert(lake.columns.toSeq == Seq("instant", "rows_deleted"))
        assert(lake.collect().head.getLong(1) == 1L)

        mkBase("st_del")
        val stmt = "DELETE FROM st_del WHERE k = 2"
        assert(ch(stmt).columns.toSeq == Seq("status"))
        assert(ch("SELECT k FROM st_del ORDER BY k").collect().map(_.getLong(0))
          .toSeq == Seq(1L, 3L))
        assert(ClickHouseSql.mutationLog.peekLast() == ("st_del", stmt))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("UPDATE … IN PARTITION runs the ALTER UPDATE mutation with the scoped WHERE") {
    withTables("st_upd") {
      ch("CREATE TABLE st_upd (k Int64, p String, v String) " +
        "ENGINE = MergeTree PARTITION BY p ORDER BY k")
      ch("INSERT INTO st_upd VALUES (1, 'x', 'a'), (2, 'y', 'a')")
      ch("UPDATE st_upd SET v = 'b' IN PARTITION 'y' WHERE v = 'a'")
      assert(ch("SELECT k, v FROM st_upd ORDER BY k").collect()
        .map(r => s"${r.getLong(0)}${r.getString(1)}").toSeq == Seq("1a", "2b"))
      assert(ClickHouseSql.mutationLog.peekLast() ==
        ("st_upd", "ALTER TABLE st_upd UPDATE v = 'b' WHERE (v = 'a') AND p = 'y'"))
      intercept[IllegalArgumentException](
        ch("UPDATE st_upd SET p = 'z' WHERE k = 1")) // partition key
    }
  }

  test("SYSTEM DROP QUERY CACHE empties the result cache; DROP MARK CACHE does not") {
    withTables("st_qc") {
      mkBase("st_qc")
      try {
        ch("SET use_query_cache = 1")
        ch("SELECT count(*) FROM st_qc").collect()
        assert(ClickHouseSql.queryCache.size > 0)
        ch("SYSTEM DROP MARK CACHE")
        assert(ClickHouseSql.queryCache.size > 0)
        ch("SYSTEM DROP QUERY CACHE")
        assert(ClickHouseSql.queryCache.size == 0)
      } finally spark.conf.unset("graft.ch.use_query_cache")
    }
  }

  test("a statement its family's keyword claims but no row takes fails loudly") {
    Seq("WATCH", "RENAME TABLE a", "EXCHANGE TABLES a", "CREATE LIVE VIEW lv",
      "CREATE MATERIALIZED VIEW mv", "ALTER TABLE t CLEAR COLUMN",
      "ALTER TABLE t FREEZE PARTITION", "UPDATE t SET v = 1 WHERE(k = 1)",
      "BACKUP TABLE t", "CREATE VIEW v {x:UInt8}").foreach { s =>
      intercept[IllegalArgumentException](ch(s))
    }
  }

  test("INSERT … FROM INFILE binds header-less CSV and TSV in declared order") {
    val t = "st_infile"
    val dir = java.nio.file.Files.createTempDirectory("st_infile")
    def part(sub: String, ext: String, text: String): String = {
      val d = dir.resolve(sub)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve(s"part-00000.$ext"), text)
      d.toString
    }
    withTables(t) {
      try {
        // Spark moves the PARTITION BY column last in the catalog
        ch(s"CREATE TABLE $t (k Int64, flag String, note String) " +
          "ENGINE = MergeTree PARTITION BY flag ORDER BY k")
        val csv = part("csv", "csv", "1,A,hello\n2,B,bye\n")
        assert(ch(s"INSERT INTO $t FROM INFILE '$csv' FORMAT CSV")
          .collect().head.getLong(0) == 2L)
        val tsv = part("tsv", "tsv", "3\tC\tthere\n")
        ch(s"INSERT INTO $t FROM INFILE '$tsv' FORMAT TSV")
        assert(ch(s"SELECT k, flag, note FROM $t ORDER BY k").collect()
          .map(r => s"k=${r(0)} flag=${r(1)} note=${r(2)}").toSeq == Seq(
            "k=1 flag=A note=hello", "k=2 flag=B note=bye", "k=3 flag=C note=there"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("source guard: no statement row re-parses its statement") {
    // a statement shape tested with String.matches (compiled per call),
    // or an operand cut back out of the text with replaceFirst
    val reparse = """\.matches\("\(\?is\)|\.replaceFirst\(""".r
    val owners = Set("ClickHouseSql.scala", "AccessControl.scala",
      "Dictionaries.scala")
    val lines = SourceGuard.lines("src/main/scala/graft/sql")
      .filter(l => owners(l._1.getName))
    assert(lines.map(_._1.getName).toSet == owners)
    val offenders = lines.filter(l => reparse.findFirstIn(l._3).isDefined)
    assert(offenders.isEmpty,
      "statement re-parsing in the dispatch:\n" +
        offenders.map(SourceGuard.show).mkString("\n"))
  }

  test("source guard: temp views only in Scope and row policies") {
    val made = SourceGuard.lines("src/main/scala/graft/sql")
      .filter(_._3.contains("createOrReplaceTempView"))
    assert(made.map(_._1.getName).sorted == Seq("AccessControl.scala",
      "Statement.scala"), made.map(SourceGuard.show).mkString("\n"))
  }

  // a snapshot taken by the statement itself, also when it is not a
  // SELECT, spells SYSTEM in capitals, or is a session's first
  test("system.<t> snapshots in any statement, case and session") {
    val t = "st_sys"
    withTables(t) {
      ch(s"CREATE TABLE $t (name String) ENGINE = MergeTree ORDER BY name")
      val fresh = spark.newSession()
      def run(q: String) = ClickHouseSql.sql(fresh, q)
      run(s"INSERT INTO $t SELECT name FROM system.tables WHERE name = '$t'")
      assert(run(s"SELECT count() FROM $t").collect().head.getLong(0) == 1L)
      assert(run(s"SELECT count() FROM SYSTEM.tables WHERE name = '$t'")
        .collect().head.getLong(0) == 1L)
      assert(fresh.catalog.listTables().collect().forall(!_.isTemporary))
    }
  }
}
