package graft

import graft.plans.AggProjections
import org.apache.spark.sql.functions._

/** Aggregate-projection rewrite (plans/AggProjections.scala — the
  * reference's optimizeUseAggregateProjections): a registered rollup
  * answers matching GROUP BYs; everything else is left alone. */
class AggProjectionsSpec extends SparkFunSuite {

  // the plans API is called directly here, not through Tables.register or
  // a dialect statement, so the spec installs the rules as any caller must
  override def spark: org.apache.spark.sql.SparkSession = {
    val s = super.spark
    graft.plans.Rules.install(s)
    s
  }

  private def basePath = s"$sf/lineitem.parquet"
  private def projPath = "/tmp/graft_proj_lineitem"

  private def withProjection[T](f: => T): T = {
    AggProjections.create(spark, basePath, projPath,
      Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice"))
    try f finally AggProjections.drop(basePath)
  }

  test("matching rollup answers from the projection, values identical") {
    val direct = spark.read.parquet(basePath)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
        min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"),
        avg("l_quantity").as("aq"))
      .orderBy("l_returnflag")
    val expected = direct.collect() // registry empty yet -> base scan
    withProjection {
      val viaProj = spark.read.parquet(basePath)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
          min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"),
          avg("l_quantity").as("aq"))
        .orderBy("l_returnflag")
      val optimized = viaProj.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__cnt") && optimized.contains("__sum_l_quantity"),
        s"aggregate was not rewritten onto the projection:\n$optimized")
      assert(!optimized.contains("l_orderkey"),
        "rewritten plan still carries base-table columns")
      val got = viaProj.collect()
      assert(got.map(_.toString).toSeq == expected.map(_.toString).toSeq)
    }
  }

  test("dim-only filter rewrites onto the projection, values identical") {
    val direct = spark.read.parquet(basePath)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      .orderBy("l_returnflag")
    val expected = direct.collect()
    withProjection {
      val viaProj = spark.read.parquet(basePath)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .orderBy("l_returnflag")
      val optimized = viaProj.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__sum_l_quantity"),
        s"filtered aggregate was not rewritten onto the projection:\n$optimized")
      assert(got(viaProj) == expected.map(_.toString).toSeq)
    }
  }

  private def got(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("non-derivable aggregates and measure-filtered scans are left on the base table") {
    withProjection {
      // countDistinct is not derivable from the rollup
      val cd = spark.read.parquet(basePath)
        .groupBy("l_returnflag").agg(countDistinct("l_partkey"))
      assert(!cd.queryExecution.optimizedPlan.toString.contains("__cnt"))
      // a filter touching a MEASURE must bail — the rollup already
      // collapsed l_quantity values
      val filtered = spark.read.parquet(basePath)
        .filter(col("l_quantity") > 10)
        .groupBy("l_returnflag").agg(sum("l_quantity"))
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("__sum_"))
      // grouping outside the projection dims bails
      val otherDim = spark.read.parquet(basePath)
        .groupBy("l_discount").agg(sum("l_quantity"))
      assert(!otherDim.queryExecution.optimizedPlan.toString.contains("__sum_"))
    }
  }
}
