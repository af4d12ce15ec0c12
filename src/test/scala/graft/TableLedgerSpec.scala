package graft

import graft.sql.ClickHouseSql
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

/** One record per table (graft.sql.TableLedger): what a table's DDL
  * declared — engine, ORDER BY, comment, declared column order, TTL, skip
  * indexes, projections — starts with CREATE and moves whole with RENAME,
  * EXCHANGE, DROP → UNDROP and DETACH → ATTACH; a fresh CREATE of a name
  * inherits nothing. */
class TableLedgerSpec extends SparkFunSuite {

  private def ch(s: String) = ClickHouseSql.sql(spark, s)

  private def rows(s: String): Seq[String] =
    ch(s).collect().map(_.toSeq.mkString(" ")).toSeq

  /** Drops `ts` outside the dialect and deletes their warehouse dirs with
    * the holding siblings DROP and DETACH leave. */
  private def withTables(ts: String*)(body: => Unit): Unit = {
    def clean(): Unit = ts.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("", "_dropped", "_detached").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(wh.toString + sfx), true))
    }
    clean()
    try body finally clean()
  }

  private def indexes(t: String): Seq[String] =
    ch(s"SHOW INDEXES FROM $t").collect().map(_.getString(1)).toSeq

  private def projections(t: String): Seq[String] =
    rows(s"SELECT name FROM system.projections WHERE `table` = '$t'")

  // ---- defects of the per-facet maps -------------------------------------

  test("a fresh CREATE after DROP reads its own rows, not the dropped table's rollup") {
    withTables("tl_lp") {
      val create = "CREATE TABLE tl_lp (d String, x Int64) ENGINE = MergeTree ORDER BY d"
      val q = "SELECT d, count() AS n, sum(x) AS s FROM tl_lp GROUP BY d ORDER BY d"
      ch(create)
      ch("INSERT INTO tl_lp VALUES ('a', 1), ('b', 2), ('b', 3)")
      ch("ALTER TABLE tl_lp ADD PROJECTION p (SELECT d, sum(x) GROUP BY d)")
      assert(rows(q) == Seq("a 1 1", "b 2 5"))
      ch("DROP TABLE tl_lp")
      assert(projections("tl_lp").isEmpty)
      ch(create)
      assert(rows(q).isEmpty)
      assert(projections("tl_lp").isEmpty)
    }
  }

  test("a fresh CREATE after DROP has no TTL of the dropped table") {
    withTables("tl_lt") {
      val create = "CREATE TABLE tl_lt (ts DateTime, v Int64) ENGINE = MergeTree ORDER BY ts"
      ch(create)
      ch("ALTER TABLE tl_lt MODIFY TTL ts + INTERVAL 1 DAY")
      ch("DROP TABLE tl_lt")
      ch(create)
      ch("INSERT INTO tl_lt VALUES (TIMESTAMP '2000-01-01 00:00:00', 1)")
      val e = intercept[IllegalArgumentException](ch("ALTER TABLE tl_lt MATERIALIZE TTL"))
      assert(e.getMessage.contains("no TTL stored"))
      assert(spark.table("tl_lt").count() == 1L)
    }
  }

  test("RENAME and EXCHANGE take indexes and TTL with the table") {
    withTables("tl_ls", "tl_ls2", "tl_lr", "tl_lr2", "tl_xa", "tl_xb") {
      def mk(t: String) = {
        ch(s"CREATE TABLE $t (k Int64, s String, ts DateTime) " +
          "ENGINE = MergeTree ORDER BY k")
        ch(s"INSERT INTO $t VALUES (1, '$t', TIMESTAMP '2100-01-01 00:00:00')")
      }
      Seq("tl_ls", "tl_lr", "tl_xa", "tl_xb").foreach(mk)
      ch("ALTER TABLE tl_ls ADD INDEX ix s TYPE bloom_filter")
      ch("RENAME TABLE tl_ls TO tl_ls2")
      assert(indexes("tl_ls2") == Seq("PRIMARY", "ix"))
      assert(rows("SELECT k FROM tl_ls2 WHERE s = 'tl_ls'") == Seq("1"))
      mk("tl_ls")
      assert(indexes("tl_ls") == Seq("PRIMARY"))

      ch("ALTER TABLE tl_lr MODIFY TTL ts + INTERVAL 1 DAY")
      ch("RENAME TABLE tl_lr TO tl_lr2")
      ch("ALTER TABLE tl_lr2 MATERIALIZE TTL")
      assert(spark.table("tl_lr2").count() == 1L)

      ch("ALTER TABLE tl_xa ADD INDEX ix s TYPE bloom_filter")
      ch("EXCHANGE TABLES tl_xa AND tl_xb")
      assert(indexes("tl_xa") == Seq("PRIMARY"))
      assert(indexes("tl_xb") == Seq("PRIMARY", "ix"))
      // the index serves the data it now sits over
      assert(rows("SELECT k FROM tl_xb WHERE s = 'tl_xa'") == Seq("1"))
      assert(rows("SELECT k FROM tl_xa WHERE s = 'tl_xb'") == Seq("1"))
    }
  }

  test("a name's record is found in any case: positional INSERT and SHOW CREATE") {
    withTables("casep") {
      ch("CREATE TABLE CaseP (k Int64, flag String, note String) ENGINE = MergeTree " +
        "PARTITION BY flag ORDER BY k COMMENT 'cased'")
      ch("INSERT INTO casep VALUES (1, 'A', 'hello')")
      assert(rows("SELECT k, flag, note FROM casep") == Seq("1 A hello"))
      val ddl = rows("SHOW CREATE TABLE casep").head
      assert(ddl.contains("ORDER BY k") && ddl.contains("COMMENT 'cased'"), ddl)
    }
  }

  test("FINAL and SHOW CREATE read the recorded ReplacingMergeTree(ver)") {
    withTables("tl_lrm", "tl_lmt") {
      ch("CREATE TABLE tl_lrm (k Int64, v Int64, ver Int64) " +
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
      ch("INSERT INTO tl_lrm VALUES (1, 10, 1), (1, 20, 2), (2, 5, 1)")
      assert(rows("SELECT k, v FROM tl_lrm FINAL ORDER BY k") == Seq("1 20", "2 5"))
      assert(ch("SELECT * FROM tl_lrm FINAL").columns.toSeq == Seq("k", "v", "ver"))
      assert(rows("SHOW CREATE TABLE tl_lrm").head
        .contains("ENGINE = ReplacingMergeTree(ver) ORDER BY k"))
      // a plain MergeTree keeps every row under FINAL
      ch("CREATE TABLE tl_lmt (k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
      ch("INSERT INTO tl_lmt VALUES (1, 10), (1, 20)")
      assert(rows("SELECT k, v FROM tl_lmt FINAL ORDER BY v") == Seq("1 10", "1 20"))
    }
  }

  test("CREATE TABLE a AS b takes b's declarations and never empties an existing a") {
    withTables("tl_cl_src", "tl_cl") {
      ch("CREATE TABLE tl_cl_src (k Int64, flag String, note String) " +
        "ENGINE = MergeTree PARTITION BY flag ORDER BY k")
      ch("CREATE TABLE tl_cl AS tl_cl_src")
      ch("INSERT INTO tl_cl VALUES (1, 'A', 'hello')")
      assert(rows("SELECT k, flag, note FROM tl_cl") == Seq("1 A hello"))
      ch("CREATE TABLE IF NOT EXISTS tl_cl AS tl_cl_src")
      intercept[Exception](ch("CREATE TABLE tl_cl AS tl_cl_src"))
      assert(rows("SELECT k, flag, note FROM tl_cl") == Seq("1 A hello"))
    }
  }

  private def meta(t: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))

  test("ATTACH restores the detached table as Spark had it, once the name is free") {
    withTables("tl_att") {
      ch("CREATE TABLE tl_att (k Int64, flag String, note String) " +
        "ENGINE = MergeTree PARTITION BY flag ORDER BY k")
      ch("INSERT INTO tl_att VALUES (1, 'A', 'hello'), (2, 'B', 'bye')")
      ch("DETACH TABLE tl_att")
      ch("CREATE TABLE tl_att (z Int64) ENGINE = MergeTree ORDER BY z")
      intercept[IllegalArgumentException](ch("ATTACH TABLE tl_att"))
      assert(spark.table("tl_att").columns.toSeq == Seq("z"))
      spark.sql("DROP TABLE tl_att")
      ch("ATTACH TABLE tl_att")
      assert(meta("tl_att").tableType == CatalogTableType.MANAGED)
      assert(meta("tl_att").partitionColumnNames == Seq("flag"))
      assert(rows("SELECT k, flag, note FROM tl_att ORDER BY k") ==
        Seq("1 A hello", "2 B bye"))
      intercept[IllegalArgumentException](ch("ATTACH TABLE tl_att"))
    }
  }

  test("a DETACH of a name whose detached table is parked fails and deletes nothing") {
    withTables("tl_dd") {
      val create = "CREATE TABLE tl_dd (v Int64) ENGINE = MergeTree ORDER BY v"
      ch(create)
      ch("INSERT INTO tl_dd VALUES (1)")
      ch("DETACH TABLE tl_dd")
      ch(create)
      ch("INSERT INTO tl_dd VALUES (2)")
      intercept[IllegalArgumentException](ch("DETACH TABLE tl_dd"))
      assert(rows("SELECT v FROM tl_dd") == Seq("2"))
      ch("DROP TABLE tl_dd")
      ch("ATTACH TABLE tl_dd")
      assert(rows("SELECT v FROM tl_dd") == Seq("1"))
    }
  }

  test("DETACH → ATTACH preserves managed/external identity") {
    withTables("tl_ident", "tl_ident_ext") {
      ch("CREATE MATERIALIZED VIEW tl_ident AS SELECT 7 AS a")
      ch("DETACH TABLE tl_ident")
      ch("ATTACH TABLE tl_ident")
      assert(meta("tl_ident").tableType == CatalogTableType.MANAGED,
        "ATTACH must not convert a managed table to external")
      assert(spark.table("tl_ident").head().getInt(0) == 7)
      val loc = s"/tmp/graft_tl_ident_ext_${System.nanoTime()}"
      val sp = spark; import sp.implicits._
      Seq((1, "x")).toDF("k", "v").write.mode("overwrite").parquet(loc)
      spark.sql(s"CREATE TABLE tl_ident_ext (k INT, v STRING) USING parquet LOCATION '$loc'")
      ch("DETACH TABLE tl_ident_ext")
      ch("ATTACH TABLE tl_ident_ext")
      assert(meta("tl_ident_ext").tableType == CatalogTableType.EXTERNAL)
      assert(meta("tl_ident_ext").location.getPath == loc)
      assert(spark.table("tl_ident_ext").count() == 1L)
      spark.sql("DROP TABLE tl_ident_ext")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(loc))
    }
  }

  // ---- moves × facets ----------------------------------------------------

  /** A table with every facet: a ReplacingMergeTree(ver) engine, ORDER BY
    * and COMMENT, a PARTITION BY column that is not last in the declared
    * order, a skip index, an aggregate projection and a TTL. */
  private def fixture(t: String): Unit = {
    ch(s"CREATE TABLE $t (k Int64, flag String, v Int64, ver Int64, ts DateTime) " +
      "ENGINE = ReplacingMergeTree(ver) PARTITION BY flag ORDER BY k COMMENT 'ledger'")
    ch(s"INSERT INTO $t VALUES (1, 'A', 10, 1, TIMESTAMP '2100-01-01 00:00:00'), " +
      "(1, 'A', 20, 2, TIMESTAMP '2100-01-01 00:00:00'), " +
      "(2, 'B', 5, 1, TIMESTAMP '2100-01-01 00:00:00')")
    ch(s"ALTER TABLE $t ADD INDEX ix v TYPE minmax")
    ch(s"ALTER TABLE $t ADD PROJECTION p (SELECT flag, sum(v) GROUP BY flag)")
    ch(s"ALTER TABLE $t MODIFY TTL ts + INTERVAL 1 DAY")
  }

  /** Every facet of `fixture`, read under the name `t`. `positional` is
    * false where an existing spec already pins positional INSERT after the
    * move (SqlLexSpec, for RENAME and EXCHANGE). */
  private def facets(t: String, positional: Boolean = true): Unit = {
    val ddl = rows(s"SHOW CREATE TABLE $t").head
    assert(ddl.contains("ENGINE = ReplacingMergeTree(ver) ORDER BY k") &&
      ddl.contains("COMMENT 'ledger'"), ddl)
    assert(indexes(t) == Seq("PRIMARY", "ix"))
    assert(projections(t) == Seq("p"))
    assert(rows(s"SELECT k, v FROM $t FINAL ORDER BY k") == Seq("1 20", "2 5"))
    if (positional) {
      ch(s"INSERT INTO $t VALUES (3, 'C', 7, 1, TIMESTAMP '2000-01-01 00:00:00')")
      assert(rows(s"SELECT k, flag, v FROM $t WHERE k = 3") == Seq("3 C 7"))
      // the rollup was rebuilt over the moved table's files
      assert(rows(s"SELECT flag, sum(v) AS s FROM $t GROUP BY flag ORDER BY flag") ==
        Seq("A 30", "B 5", "C 7"))
    }
    ch(s"ALTER TABLE $t MATERIALIZE TTL")
    assert(rows(s"SELECT k, v FROM $t ORDER BY k, v") == Seq("1 10", "1 20", "2 5"))
  }

  test("RENAME moves every facet") {
    withTables("tl_m_rn", "tl_m_rn2") {
      fixture("tl_m_rn")
      ch("RENAME TABLE tl_m_rn TO tl_m_rn2")
      assert(projections("tl_m_rn").isEmpty)
      facets("tl_m_rn2", positional = false)
    }
  }

  test("EXCHANGE swaps every facet") {
    withTables("tl_m_xa", "tl_m_xb") {
      fixture("tl_m_xa")
      ch("CREATE TABLE tl_m_xb (z Int64) ENGINE = MergeTree ORDER BY z")
      ch("EXCHANGE TABLES tl_m_xa AND tl_m_xb")
      facets("tl_m_xb", positional = false)
      assert(indexes("tl_m_xa") == Seq("PRIMARY"))
      assert(projections("tl_m_xa").isEmpty)
      assert(rows("SHOW CREATE TABLE tl_m_xa").head.contains("ENGINE = MergeTree ORDER BY z"))
    }
  }

  test("DROP → UNDROP restores every facet") {
    withTables("tl_m_ud") {
      fixture("tl_m_ud")
      ch("DROP TABLE tl_m_ud")
      assert(rows("SELECT `table` FROM system.dropped_tables WHERE `table` = 'tl_m_ud'") ==
        Seq("tl_m_ud"))
      assert(projections("tl_m_ud").isEmpty)
      ch("UNDROP TABLE tl_m_ud")
      facets("tl_m_ud")
    }
  }

  test("DETACH → ATTACH restores every facet") {
    withTables("tl_m_da") {
      fixture("tl_m_da")
      ch("DETACH TABLE tl_m_da")
      assert(projections("tl_m_da").isEmpty)
      ch("ATTACH TABLE tl_m_da")
      facets("tl_m_da")
    }
  }

  test("source guard: Spark CREATE, DROP and RENAME TABLE statements only in the ledger") {
    val ddl = ("""\.sql\(\s*s?"(?i:(?:CREATE|DROP)\s+(?:OR\s+REPLACE\s+)?TABLE\b|""" +
      """ALTER\s+TABLE\b[^"]*\bRENAME\s+TO\b)""").r
    val hits = SourceGuard.lines("src/main/scala/graft/sql").groupBy(_._1).toSeq
      .flatMap { case (f, ls) =>
        val text = ls.map(_._3).mkString("\n")
        ddl.findAllMatchIn(text).map(m =>
          s"${f.getName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }
    assert(hits.nonEmpty && hits.forall(_.startsWith("TableLedger.scala:")),
      hits.mkString("\n"))
  }
}
