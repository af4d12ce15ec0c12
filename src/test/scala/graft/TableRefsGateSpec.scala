package graft

import graft.sql.{ClickHouseSql, SqlLex}

/** The privilege gate reads table names from the raw statement when
  * Spark's parser rejects it (here: a SETTINGS tail). A user granted only
  * pa_open must be refused on pa_secret however the name is spelled:
  * backtick-quoted, in a comma-separated FROM list, or
  * 'default.'-qualified. */
class TableRefsGateSpec extends SparkFunSuite {

  private def ch(sql: String) = ClickHouseSql.sql(spark, sql)

  private def scratch(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  test("tableRefs: backticks, comma lists and default. names") {
    assert(SqlLex.tableRefs("SELECT v FROM `pa_secret` SETTINGS max_threads = 1") ==
      Set("pa_secret"))
    assert(SqlLex.tableRefs("SELECT * FROM pa_open, pa_secret SETTINGS max_threads = 1") ==
      Set("pa_open", "pa_secret"))
    assert(SqlLex.tableRefs("SELECT v FROM default.pa_secret s JOIN t2 ON 1 = 1") ==
      Set("pa_secret", "t2"))
    assert(SqlLex.tableRefs("SELECT 'FROM pa_secret' AS s FROM t") == Set("t"))
    assert(SqlLex.tableRefs("UPDATE t SET v = 1 WHERE k = 2") == Set("t"))
    assert(SqlLex.tableRefs("ALTER TABLE t UPDATE v = 1 WHERE k = 2") == Set("t"))
  }

  test("a user granted only pa_open is refused pa_secret in every spelling") {
    Seq("pa_open", "pa_secret").foreach { t =>
      scratch(t)
      spark.sql(s"CREATE TABLE $t USING parquet AS SELECT 1 AS v")
    }
    ch("CREATE USER IF NOT EXISTS pa_user")
    ch("GRANT SELECT ON pa_open TO pa_user")
    try {
      ch("SET user = 'pa_user'")
      Seq(
        "SELECT v FROM `pa_secret` SETTINGS max_threads = 1",
        "SELECT * FROM pa_open, pa_secret SETTINGS max_threads = 1",
        "SELECT v FROM default.pa_secret SETTINGS max_threads = 1"
      ).foreach { q =>
        val e = intercept[SecurityException](ch(q).collect())
        assert(e.getMessage.contains("pa_secret"), q)
      }
      // the granted table stays readable in the same spellings
      assert(ch("SELECT v FROM `pa_open` SETTINGS max_threads = 1")
        .collect().map(_.getInt(0)).toSeq == Seq(1))
      assert(ch("SELECT v FROM default.pa_open SETTINGS max_threads = 1")
        .collect().map(_.getInt(0)).toSeq == Seq(1))
    } finally {
      ch("SET user = 'default'")
      scala.util.Try(ch("DROP USER IF EXISTS pa_user"))
      Seq("pa_open", "pa_secret").foreach(scratch)
    }
  }
}
