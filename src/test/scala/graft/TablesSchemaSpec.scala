package graft

import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Input physical-type drift tolerance (round-5 postmortem): the corpus
  * regenerated events.ts from parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS)
  * and the hardcoded nanos workaround killed every query. These pins assert
  * the catalog adapts to whatever the file actually contains, and that one
  * bad table degrades only itself, not the whole catalog.
  */
class TablesSchemaSpec extends SparkFunSuite {

  test("events loads from the current (microsecond) corpus as timestamp") {
    val df = Tables.load(spark, sf, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
    // a real timestamp value, not an epoch-zero artifact of a wrong cast
    val y = df.selectExpr("min(year(ts))").head.getInt(0)
    assert(y > 1990 && y < 2100, s"suspicious min year $y")
  }

  test("events loads from a nanos-as-long fixture via the truncation path") {
    val dir = Files.createTempDirectory("graft_ns_fixture").toString
    // Spark cannot write TIMESTAMP(NANOS); store raw int64 nanos — with
    // nanosAsLong set, a genuine NANOS file also surfaces as LongType, so
    // this exercises the identical branch in Tables.loadEvents.
    val ns = 1700000000L * 1000000000L + 123456789L // 2023-11-14..., .123456789s
    spark.sql(
      s"SELECT 1L AS event_id, ${ns}L AS ts, 7L AS user_id, " +
        "'click' AS event_type, 1.5d AS value, '{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the second load reads the memoized schema and truncates the same way
    for (_ <- 1 to 2) {
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType)
      val micros = df.selectExpr("unix_micros(ts)").head.getLong(0)
      assert(micros == 1700000000L * 1000000L + 123456L) // ns truncated to µs
    }
  }

  test("a second load of one file infers no schema: zero jobs") {
    val dir = Files.createTempDirectory("graft_schema_memo").toString
    Files.copy(Paths.get(s"$sf/region.parquet"), Paths.get(s"$dir/region.parquet"))
    val first = jobsDuring(Tables.load(spark, dir, "region"))
    assert(first >= 1, "the first load infers the schema with a job")
    assert(jobsDuring(Tables.load(spark, dir, "region")) == 0)
    assert(Tables.load(spark, dir, "region").count() ==
      spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("a file rewritten at the same path with a new schema is re-inferred") {
    val dir = Files.createTempDirectory("graft_schema_rewrite").toString
    val path = s"$dir/part.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert(Tables.load(spark, dir, "part").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS a", "id AS b")
      .write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, dir, "part")
    assert(df.schema("a").dataType == StringType && df.columns.toSeq == Seq("a", "b"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("register is fault-isolated per table") {
    val dir = Files.createTempDirectory("graft_degraded").toString
    // one good table, one unreadable one
    Files.copy(Paths.get(s"$sf/region.parquet"), Paths.get(s"$dir/region.parquet"))
    Files.writeString(Paths.get(s"$dir/nation.parquet"), "not parquet")
    Tables.register(spark, dir)
    assert(spark.table("region").count() > 0)
    // a dir change re-registers: the real corpus restores the full catalog
    Tables.register(spark, sf)
    assert(spark.table("nation").count() > 0)
  }
}
