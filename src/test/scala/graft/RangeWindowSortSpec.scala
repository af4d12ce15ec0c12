package graft

import graft.plans.{RangeWindowSort, Rules}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{RepartitionByExpression, Window, WindowGroupLimit}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** `RangeWindowSort`: a window followed by an ORDER BY on its partition
  * keys plans one range exchange, placed under the window, and nowhere
  * else changes a plan. */
class RangeWindowSortSpec extends SparkFunSuite {

  /** `body` with the rule in or out of the session's optimizer: the
    * session runs the engine's rule list, without this rule when `on` is
    * false. The rules are installed first, so a `Tables.register` inside
    * `body` adds nothing. */
  private def withRule[T](on: Boolean)(body: => T): T = {
    Rules.install(spark)
    def include(in: Boolean): Unit =
      spark.experimental.extraOptimizations =
        Rules.of(spark).filter(in || _ != RangeWindowSort.SortRule)
    include(on)
    try body finally include(true)
  }

  private def ranged(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case w: Window => w.child.isInstanceOf[RepartitionByExpression]
      case _ => false
    }

  /** Whether the rule changes the plan `build` makes. */
  private def fires(build: => DataFrame): Boolean = {
    val off = withRule(on = false)(ranged(build))
    assert(!off, "the plan has a repartition under its window without the rule")
    withRule(on = true)(ranged(build))
  }

  private def exchanges(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange ")).map(_.trim).toSeq

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def events: DataFrame = Tables.load(spark, sf, "events")

  private val byUser = W.partitionBy("user_id").orderBy("ts", "event_id")

  test("fires on the ASOF and lag/lead shapes: one range exchange, no hash") {
    for (q <- Seq("q_ch_asof_sql", "q_asof_join", "q_win_lag_lead")) {
      assert(fires(query(q)), s"$q: the rule did not fire")
      val on = withRule(on = true)(exchanges(query(q)))
      val off = withRule(on = false)(exchanges(query(q)))
      assert(on.size == off.size - 1, s"$q: $off -> $on")
      assert(on.count(_.contains("rangepartitioning(user_id")) == 1 &&
        !on.exists(_.contains("hashpartitioning(user_id")), s"$q: $on")
    }
  }

  test("fires through an alias of the partition key") {
    def df = events.withColumn("prev", lag("value", 1).over(byUser))
      .select(col("user_id").as("uid"), col("event_id"), col("prev"))
      .orderBy("uid", "event_id")
    assert(fires(df))
    assert(withRule(on = true)(exchanges(df)).size == 1)
  }

  test("does not fire under a WindowGroupLimit (q_limit_by)") {
    val plan = withRule(on = true)(query("q_limit_by").queryExecution.optimizedPlan)
    assert(plan.exists(_.isInstanceOf[WindowGroupLimit]),
      "q_limit_by no longer plans a WindowGroupLimit")
    assert(!fires(query("q_limit_by")))
  }

  test("does not fire unless the leading sort keys are all the partition keys") {
    assert(!fires(events.withColumn("prev", lag("value", 1).over(byUser))
      .orderBy("event_id", "user_id")))
    // a range on user_id alone would spread rows over fewer keys than the
    // window's hash on (user_id, event_type)
    val byUserType = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    def typed = events.withColumn("prev", lag("value", 1).over(byUserType))
    assert(!fires(typed.orderBy("user_id", "event_id")))
    assert(fires(typed.orderBy("event_type", "user_id", "event_id")))
  }

  test("does not fire when the window input holds an Aggregate or a Join") {
    val counts = events.groupBy("user_id", "event_type").count()
    assert(!fires(counts
      .withColumn("r", rank().over(W.partitionBy("user_id").orderBy("count")))
      .orderBy("user_id", "event_type")))
    val customers = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    assert(!fires(events.join(customers, col("user_id") === col("c_custkey"))
      .withColumn("prev", lag("value", 1).over(byUser))
      .orderBy("user_id", "event_id")))
  }

  test("does not fire over a nondeterministic Project, under a LIMIT or on " +
      "sortWithinPartitions") {
    def windowed = events.withColumn("prev", lag("value", 1).over(byUser))
    assert(fires(windowed.withColumn("r", lit(1.0)).orderBy("user_id")))
    assert(!fires(windowed.withColumn("r", rand(7)).orderBy("user_id")))
    assert(!fires(windowed.orderBy("user_id").limit(10)))
    assert(!fires(windowed.orderBy("user_id").select("user_id", "prev").limit(10)))
    assert(!fires(windowed.sortWithinPartitions("user_id")))
  }

  test("ordered rows are identical with the rule on and off at 1, 3 and 7 " +
      "shuffle partitions") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (n <- Seq("1", "3", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", n)
        for (q <- Seq("q_ch_asof_sql", "q_asof_forward", "q_win_lag_lead",
            "q_win_range_frame")) {
          val on = withRule(on = true)(query(q).collect().toSeq)
          val off = withRule(on = false)(query(q).collect().toSeq)
          assert(on.nonEmpty && on == off, s"$q at $n partitions")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }
}
