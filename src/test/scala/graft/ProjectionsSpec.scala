package graft

import graft.plans.Layouts
import org.apache.spark.sql.functions._

/** The projection rule (plans/Projections.scala — the reference's
  * optimizeUseAggregateProjections, optimizeUseNormalProjections and
  * optimizeReadInOrder): a registered rollup answers matching GROUP BYs,
  * a bucketed+sorted copy answers matching GROUP BYs with no Exchange and
  * feeds sort-merge operations with no Sort; everything else is left
  * alone. */
class ProjectionsSpec extends SparkFunSuite {

  // the plans API is called directly here, not through Tables.register or
  // a dialect statement, so the spec installs the rules as any caller must
  override def spark: org.apache.spark.sql.SparkSession = {
    val s = super.spark
    graft.plans.Rules.install(s)
    s
  }

  private def basePath = s"$sf/lineitem.parquet"
  private def projPath = "/tmp/graft_proj_lineitem"

  private def withLayout[T](l: Layouts.Layout)(f: => T): T = {
    Layouts.register(spark, l)
    try f finally Layouts.unregister(spark, l.base, l.built)
  }

  private def withProjection[T](f: => T): T =
    withLayout(Layouts.Rollup(basePath, projPath,
      Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice")))(f)

  private def sortedCopy(table: String) =
    Layouts.Sorted(basePath, table, Seq("l_orderkey"), Seq("l_quantity"))

  // ---- rollups -------------------------------------------------------------

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

  test("the rollup with the fewest dims that fits serves; a sorted copy only when none fits") {
    val wide = Layouts.Rollup(basePath, "/tmp/graft_proj_lineitem_wide",
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
    val narrow = Layouts.Rollup(basePath, "/tmp/graft_proj_lineitem_narrow",
      Seq("l_returnflag"), Seq("l_quantity"))
    val copy = Layouts.Sorted(basePath, "li_nproj_choice", Seq("l_returnflag"),
      Seq("l_linestatus", "l_quantity"))
    def reads(cols: String*): Seq[String] = readRoots(spark.read.parquet(basePath)
      .groupBy(cols.map(col): _*).agg(sum("l_quantity").as("q")))
    withLayout(copy)(withLayout(wide)(withLayout(narrow) {
      assert(reads("l_returnflag") == Seq(narrow.dir))
      assert(reads("l_returnflag", "l_linestatus") == Seq(wide.dir))
      // max is not in the rollups' measures for l_linestatus: no rollup
      // fits, the sorted copy's keys are covered
      val viaCopy = spark.read.parquet(basePath).groupBy("l_returnflag")
        .agg(max("l_linestatus")).queryExecution.optimizedPlan.toString
      assert(viaCopy.contains("li_nproj_choice"), viaCopy)
    }))
  }

  // ---- sorted copies -------------------------------------------------------

  test("matching aggregate reads the projection with no Exchange, values identical") {
    val direct = spark.read.parquet(basePath)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      .orderBy("l_orderkey")
    val expected = direct.collect().map(_.toString).toSeq
    withLayout(sortedCopy("li_nproj")) {
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
    }
  }

  test("read-in-order: self-join on the projection plans without Sort or Exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    withLayout(sortedCopy("li_nproj2")) {
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
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("non-covering groupings and missing columns bail to the base scan") {
    withLayout(sortedCopy("li_nproj3")) {
      // grouping does not cover the bucket key
      val other = spark.read.parquet(basePath)
        .groupBy("l_returnflag").agg(sum("l_quantity"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("li_nproj3"))
      // references a column the projection did not materialize
      val missing = spark.read.parquet(basePath)
        .groupBy("l_orderkey").agg(sum("l_extendedprice"))
      assert(!missing.queryExecution.optimizedPlan.toString.contains("li_nproj3"))
    }
  }

  test("unregister disposes of what the layout built") {
    val dir = new java.io.File("/tmp/graft_proj_lineitem_gone")
    withLayout(Layouts.Rollup(basePath, dir.toString, Seq("l_returnflag"),
      Seq("l_quantity")))(assert(dir.exists))
    assert(!dir.exists, s"rollup dir $dir outlived its layout")
    withLayout(sortedCopy("li_nproj_gone"))(
      assert(spark.catalog.tableExists("li_nproj_gone")))
    assert(!spark.catalog.tableExists("li_nproj_gone"))
  }

  test("source guard: one path-keyed registry in graft/plans, in Layouts") {
    val offenders = SourceGuard.lines("src/main/scala/graft/plans")
      .filter { case (f, _, line) =>
        f.getName != "Layouts.scala" &&
          (line.contains("ConcurrentHashMap") || line.contains("def canon"))
      }
    assert(offenders.isEmpty, "a second layout registry in graft/plans:\n" +
      offenders.map(SourceGuard.show).mkString("\n"))
  }
}
