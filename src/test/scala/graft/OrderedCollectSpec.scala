package graft

import scala.jdk.CollectionConverters._

import graft.plans.{OrderedCollectExec, Rules}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `OrderedCollect`: a collected root ORDER BY gives the rows, in the
  * order, that Spark's own plan (the session without the strategy) gives,
  * and every other consumer of the frame keeps that order. */
class OrderedCollectSpec extends SparkFunSuite {

  /** `body` planned with the engine's strategies or without them. */
  private def withStrategy[T](on: Boolean)(body: => T): T = {
    Rules.install(spark)
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = if (on) Rules.strategies else Nil
    try body finally spark.experimental.extraStrategies = saved
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The plan's root, below the adaptive wrapper. */
  private def root(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def orderedCollect(df: DataFrame): Option[OrderedCollectExec] =
    Some(root(df)).collect { case o: OrderedCollectExec => o }

  /** 3,000 rows over `parts` partitions: a key with NULLs, doubles with
    * NaN, -0.0, 0.0 and NULLs, strings with NULLs, and a unique id. */
  private def data(parts: Int = 5): DataFrame = spark.range(0, 3000, 1, parts).select(
    col("id"),
    when(col("id") % 17 === 0, lit(null)).otherwise(col("id") % 13).as("k"),
    when(col("id") % 11 === 0, lit(Double.NaN))
      .when(col("id") % 11 === 1, lit(-0.0))
      .when(col("id") % 11 === 2, lit(0.0))
      .when(col("id") % 19 === 0, lit(null))
      .otherwise(sin(col("id")) * 100).as("d"),
    when(col("id") % 23 === 0, lit(null))
      .otherwise(concat(lit("s"), (col("id") * 7919 % 1000).cast("string"))).as("s"))

  /** Each shape ends in a unique key, so the order is total. */
  private val shapes: Seq[(String, () => DataFrame)] = Seq(
    "multi-key" -> (() => data().orderBy("k", "s", "id")),
    "DESC" -> (() => data().orderBy(col("d").desc, col("id").desc)),
    "NULLS FIRST" -> (() => data().orderBy(col("k").asc_nulls_first, col("id"))),
    "NULLS LAST" -> (() => data().orderBy(col("s").asc_nulls_last, col("id"))),
    "DESC NULLS FIRST" -> (() => data().orderBy(col("d").desc_nulls_first, col("id"))),
    "NaN and -0.0" -> (() => data().orderBy(col("d"), col("id"))),
    "strings" -> (() => data().orderBy(col("s").desc, col("id"))),
    "empty" -> (() => data().filter(col("id") < 0).orderBy("id")),
    "single partition" -> (() => data(parts = 1).orderBy(col("d"), col("id"))),
    "sort key not in the output" -> (() =>
      data().orderBy(col("d"), col("id")).select(col("s"), col("id") + 1)),
    "over an aggregate" -> (() => data().groupBy("k")
      .agg(count(lit(1)).as("n"), max("s").as("s")).orderBy(col("n").desc, col("k"))),
    "over a window" -> (() => data()
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .orderBy(col("r"), col("k").desc_nulls_last)))

  /** `df`'s rows with the strategy, after checking that they equal the
    * rows without it, as text, so NaN and -0.0 compare exactly. */
  private def same(what: String, df: () => DataFrame): Seq[Row] = {
    val on = withStrategy(on = true) {
      val d = df()
      assert(orderedCollect(d).isDefined, s"$what: ${d.queryExecution.executedPlan}")
      d.collect().toSeq
    }
    val off = withStrategy(on = false)(df().collect().toSeq)
    assert(on.map(_.toString) == off.map(_.toString), what)
    on
  }

  test("same rows in the same order as Spark's plan at 1, 7 and 32 shuffle " +
      "partitions, AQE on and off") {
    for (n <- Seq("1", "7", "32"); aqe <- Seq("true", "false"))
      withConf("spark.sql.shuffle.partitions" -> n, "spark.sql.adaptive.enabled" -> aqe) {
        shapes.foreach { case (what, df) =>
          val rows = same(s"$what at $n partitions, AQE $aqe", df)
          assert(rows.isEmpty == (what == "empty"), what)
        }
      }
  }

  test("ties keep the key sequence and the rows") {
    def df = data().orderBy(col("k").desc)
    val on = withStrategy(on = true)(df.collect().toSeq)
    val off = withStrategy(on = false)(df.collect().toSeq)
    assert(on.map(_.get(1)) == off.map(_.get(1)))
    assert(on.map(_.toString).sorted == off.map(_.toString).sorted)
  }

  test("localCheckpoint, cache and toLocalIterator keep the order") {
    withConf("spark.sql.shuffle.partitions" -> "7") {
      def df = data().orderBy(col("d"), col("id"))
      val expected = withStrategy(on = false)(df.collect().toSeq.map(_.toString))
      withStrategy(on = true) {
        val cp = df.localCheckpoint()
        assert(cp.rdd.getNumPartitions > 1)
        assert(cp.collect().toSeq.map(_.toString) == expected)
        val cached = df.cache()
        try {
          val built = cached.queryExecution.withCachedData.collectFirst {
            case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
          }.map(_.cacheBuilder.cachedPlan)
          assert(built.exists(_.exists(_.isInstanceOf[OrderedCollectExec])),
            s"the cache does not build through OrderedCollect: $built")
          assert(cached.rdd.getNumPartitions > 1)
          assert(cached.collect().toSeq.map(_.toString) == expected)
        } finally cached.unpersist(blocking = true)
        val iterated = df
        assert(orderedCollect(iterated).isDefined)
        assert(iterated.toLocalIterator().asScala.map(_.toString).toSeq == expected)
      }
    }
  }

  test("a root LIMIT still plans TakeOrderedAndProject") {
    withStrategy(on = true) {
      val df = data().orderBy(col("d"), col("id")).limit(10)
      assert(root(df).isInstanceOf[TakeOrderedAndProjectExec], root(df).toString)
    }
  }

  test("metrics: rows, runs and driver merge time; EXPLAIN names the node") {
    withConf("spark.sql.shuffle.partitions" -> "7") {
      withStrategy(on = true) {
        val df = data(parts = 5).orderBy(col("d"), col("id"))
        assert(df.collect().length == 3000)
        val m = orderedCollect(df).get.metrics
        assert(m("rows").value == 3000)
        assert(m("runs").value >= 2 && m("runs").value <= 3000, m("runs").value)
        assert(m("mergeTime").value >= 0)
        Tables.register(spark, sf)
        val plan = graft.sql.ClickHouseSql.sql(spark,
          "EXPLAIN SELECT event_id FROM events ORDER BY event_id")
          .collect().map(_.getString(0)).mkString
        assert(plan.contains("OrderedCollect"), plan)
      }
    }
  }

  // the window-then-ORDER-BY queries that used to plan one range exchange
  // under their window, with the jobs each ran that way (sf0.001, this
  // suite's session); the root ORDER BY now needs no exchange at all
  private val formerRangeWindow = Seq("q_asof_forward" -> 4, "q_asof_join" -> 4,
    "q_asof_strict" -> 4, "q_asof_tolerance" -> 4, "q_ch_asof_inner_sql" -> 3,
    "q_ch_asof_sql" -> 3, "q_win_lag_lead" -> 3, "q_win_nonneg_derivative" -> 3,
    "q_win_range_frame" -> 3)

  test("window-then-ORDER-BY battery queries plan OrderedCollect, no more jobs") {
    Tables.register(spark, sf)
    for ((q, before) <- formerRangeWindow) {
      def df = SparkEntry.queries(q)(spark, sf)
      assert(orderedCollect(df).isDefined, s"$q: ${df.queryExecution.executedPlan}")
      val jobs = jobsDuring(df.collect())
      assert(jobs <= before, s"$q: $jobs jobs, $before before")
    }
  }
}
