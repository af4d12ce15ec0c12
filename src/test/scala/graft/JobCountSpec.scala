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

  test("q_limit_by: no schema-inference job") {
    assert(jobs("q_limit_by") <= 4)
  }

  test("q_ch_asof_sql: one exchange serves the window and the ORDER BY") {
    assert(jobs("q_ch_asof_sql") <= 3)
  }
}
