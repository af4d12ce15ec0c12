package graft

/** Spark jobs per statement, pinned as counts: a count does not move with
  * host load the way a timing does. Each statement is built and collected
  * at sf0.01 after the corpus is registered. */
class JobCountSpec extends SparkFunSuite {

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  private def jobs(name: String): Int = {
    Tables.register(spark, sf01)
    jobsDuring(SparkEntry.queries(name)(spark, sf01).collect())
  }

  test("q_lazy_topk: a narrow top-k job and a one-job emit") {
    assert(jobs("q_lazy_topk") <= 2)
  }

  // the window's exchange, then one job that sorts and collects
  test("q_limit_by: no schema-inference job") {
    assert(jobs("q_limit_by") <= 2)
  }

  test("q_ch_asof_sql: one exchange serves the window and the ORDER BY") {
    assert(jobs("q_ch_asof_sql") <= 2)
  }

  // a root ORDER BY over a scan: no sample job, no shuffle
  test("q_ch_multisearch_many: one job sorts and collects") {
    assert(jobs("q_ch_multisearch_many") <= 1)
  }

  // rows_read comes from the insert's own pass, not a second parse
  test("FROM INFILE reads its file once") {
    val t = "jc_infile"
    def drop(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    val dir = java.nio.file.Files.createTempDirectory("jc_infile")
    java.nio.file.Files.writeString(dir.resolve("part-00000.csv"), "1,a\n2,b\n")
    drop()
    try {
      graft.sql.ClickHouseSql.sql(spark,
        s"CREATE TABLE $t (k Int64, v String) ENGINE = MergeTree ORDER BY k")
      var read = -1L
      val n = jobsDuring {
        read = graft.sql.ClickHouseSql.sql(spark,
          s"INSERT INTO $t FROM INFILE '$dir' FORMAT CSV").collect().head.getLong(0)
      }
      assert(read == 2L)
      assert(n <= 1, s"$n jobs")
    } finally {
      drop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  // rows_written comes from the write's own pass, not a count before it:
  // an observation on Spark's CSV writer, the returned count of the
  // graft-native ones
  test("INTO OUTFILE reads its input once: CSV, RowBinary, MsgPack") {
    Tables.register(spark, sf01)
    val query = "SELECT event_id FROM events WHERE event_id % 10 = 0"
    val rows = graft.sql.ClickHouseSql.sql(spark, query).count()
    assert(rows > 0L)
    val dir = java.nio.file.Files.createTempDirectory("jc_outfile")
    try for (fmt <- Seq("CSV", "RowBinary", "MsgPack")) {
      var written = -1L
      val n = jobsDuring {
        written = graft.sql.ClickHouseSql.sql(spark,
          s"$query INTO OUTFILE '$dir/$fmt' FORMAT $fmt").collect().head.getLong(0)
      }
      assert(written == rows, fmt)
      assert(n <= 1, s"$fmt: $n jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
