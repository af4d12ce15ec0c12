package graft

import graft.plans.Rules
import graft.sql.ClickHouseSql
import org.apache.spark.sql.SparkSession

/** The engine's optimizer rules and planner strategies are one list each,
  * in one order, installed by one call, whichever statement a session runs
  * first. */
class RulesSpec extends SparkFunSuite {

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  test("fresh sessions get one rule list, whatever runs first") {
    val t = "rules_first"
    dropTable(t)
    ClickHouseSql.sql(spark,
      s"CREATE TABLE $t (k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    ClickHouseSql.sql(spark, s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    val firsts: Seq[(String, SparkSession => Unit)] = Seq(
      "Tables.register" -> (s => Tables.register(s, sf)),
      "a dialect SELECT" -> (s => ClickHouseSql.sql(s, "SELECT 1").collect()),
      "a projection CREATE" -> (s => ClickHouseSql.sql(s,
        s"ALTER TABLE $t ADD PROJECTION rules_p (SELECT k, sum(v) GROUP BY k)")),
      "a skip-index CREATE" -> (s => ClickHouseSql.sql(s,
        s"ALTER TABLE $t ADD INDEX rules_ix v TYPE minmax")))
    try firsts.foreach { case (what, first) =>
      val s = spark.newSession()
      first(s)
      ClickHouseSql.sql(s, "SELECT 1").collect()
      Tables.register(s, sf)
      assert(s.experimental.extraOptimizations == Rules.of(s), what)
      assert(Rules.of(s).map(_.getClass.getSimpleName) == Seq("CountRule",
        "RewriteRule", "PruneRule"), what)
      assert(s.experimental.extraStrategies == Rules.strategies, what)
      assert(Rules.strategies.map(_.getClass.getSimpleName) == Seq("OrderedCollect$"), what)
    } finally {
      ClickHouseSql.sql(spark, s"ALTER TABLE $t DROP PROJECTION rules_p")
      ClickHouseSql.sql(spark, s"ALTER TABLE $t DROP INDEX rules_ix")
      dropTable(t)
    }
  }

  for (slot <- Seq("extraOptimizations", "extraStrategies"))
    test(s"source guard: only Rules assigns $slot") {
      val assign = (slot + """\s*=[^=]""").r
      val offenders = SourceGuard.lines("src/main/scala")
        .filter { case (f, _, line) =>
          f.getName != "Rules.scala" && assign.findFirstIn(line).isDefined
        }
      assert(offenders.isEmpty,
        s"$slot assigned outside Rules:\n" +
          offenders.map(SourceGuard.show).mkString("\n"))
    }
}
