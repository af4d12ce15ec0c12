package graft

import graft.plans.NormalProjections
import org.apache.spark.sql.functions._

/** Normal-projection rewrite (plans/NormalProjections — the reference's
  * optimizeUseNormalProjections + optimizeReadInOrder): a bucketed+sorted
  * alternate layout answers matching GROUP BYs with no Exchange, and its
  * per-bucket sort order feeds sort-merge operations with no Sort. */
class NormalProjectionsSpec extends SparkFunSuite {

  // the plans API is called directly here, not through Tables.register or
  // a dialect statement, so the spec installs the rules as any caller must
  override def spark: org.apache.spark.sql.SparkSession = {
    val s = super.spark
    graft.plans.Rules.install(s)
    s
  }

  private def basePath = s"$sf/lineitem.parquet"

  test("matching aggregate reads the projection with no Exchange, values identical") {
    val direct = spark.read.parquet(basePath)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      .orderBy("l_orderkey")
    val expected = direct.collect().map(_.toString).toSeq
    NormalProjections.create(spark, basePath, "li_nproj", 8,
      Seq("l_orderkey"), Seq("l_quantity"))
    try {
      val viaProj = spark.read.parquet(basePath)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      val optimized = viaProj.queryExecution.optimizedPlan.toString
      assert(optimized.contains("li_nproj"),
        s"aggregate was not rewritten onto the projection:\n$optimized")
      // the aggregate itself runs shuffle-free on the bucket clustering
      // (the final orderBy is applied outside the pinned fragment)
      val exec = viaProj.queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange hashpartitioning"),
        s"expected no aggregate Exchange over the bucketed projection:\n$exec")
      assert(viaProj.orderBy("l_orderkey").collect().map(_.toString).toSeq
        == expected)
    } finally NormalProjections.drop(spark, basePath)
  }

  test("read-in-order: self-join on the projection plans without Sort or Exchange") {
    NormalProjections.create(spark, basePath, "li_nproj2", 8,
      Seq("l_orderkey"), Seq("l_quantity"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("li_nproj2")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      val j = t.join(spark.table("li_nproj2").groupBy("l_orderkey")
          .agg(count(lit(1)).as("n")), Seq("l_orderkey"))
      val exec = j.queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange hashpartitioning"),
        s"expected shuffle-free plan over the bucketed projection:\n$exec")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      NormalProjections.drop(spark, basePath)
    }
  }

  test("non-covering groupings and missing columns bail to the base scan") {
    NormalProjections.create(spark, basePath, "li_nproj3", 8,
      Seq("l_orderkey"), Seq("l_quantity"))
    try {
      // grouping does not cover the bucket key
      val other = spark.read.parquet(basePath)
        .groupBy("l_returnflag").agg(sum("l_quantity"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("li_nproj3"))
      // references a column the projection did not materialize
      val missing = spark.read.parquet(basePath)
        .groupBy("l_orderkey").agg(sum("l_extendedprice"))
      assert(!missing.queryExecution.optimizedPlan.toString.contains("li_nproj3"))
    } finally NormalProjections.drop(spark, basePath)
  }
}
