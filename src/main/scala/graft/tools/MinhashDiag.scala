package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev diagnostic: run q_dedup_minhash_lsh N times in one JVM, print
  * per-run seconds and the FINAL adaptive physical plan (post-AQE), to
  * catch plan flapping (broadcast vs shuffle) across identical runs. */
object MinhashDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("RUNS", "3").toInt
    val qname = sys.env.getOrElse("QNAME", "q_dedup_minhash_lsh")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to runs).foreach { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      // call the helper directly (the query wrapper localCheckpoints,
      // which hides the interesting executed plan behind an RDD scan)
      val (docs, pairs) = graft.operators.NearDup.minhashLshPairs(
        graft.Tables.load(spark, sfDir, "documents"))
      val df = pairs
      val n = df.collect().length
      docs.unpersist()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"== run$i $sec%.2f s rows=$n")
      val plan = df.queryExecution.executedPlan
      val finalPlan = plan.collectFirst { case a: AdaptiveSparkPlanExec => a }
        .map(_.executedPlan).getOrElse(plan)
      // one-line-per-operator summary: operator class names only
      System.err.println(finalPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Broadcast") || l.contains("Scan") || l.contains("Window"))
        .mkString("\n"))
    }
    spark.stop()
  }
}
