package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Micro-floor probes for optimization work: times the irreducible pieces
  * (scan, collect, sort) that bound what any query over the corpus can
  * achieve. Diagnostic only — never part of the bench contract.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $name min ${ts.min}%.3f s  all ${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    val li = () => graft.Tables.load(spark, sfDir, "lineitem")
    time("lineitem scan noop (all cols)") {
      li().write.format("noop").mode("overwrite").save()
    }
    time("lineitem narrow noop (3 cols)") {
      li().select("l_orderkey", "l_linenumber", "l_quantity")
        .write.format("noop").mode("overwrite").save()
    }
    time("lineitem narrow collect unsorted (5 cols)") {
      li().select(col("l_orderkey"), col("l_linenumber"),
        col("l_linenumber").cast("int").as("a"),
        col("l_linenumber").cast("int").as("b"),
        col("l_quantity").cast("double").as("c")).collect()
    }
    time("lineitem narrow orderBy collect (5 cols)") {
      li().select(col("l_orderkey"), col("l_linenumber"),
        col("l_linenumber").cast("int").as("a"),
        col("l_linenumber").cast("int").as("b"),
        col("l_quantity").cast("double").as("c"))
        .orderBy("l_orderkey", "l_linenumber").collect()
    }
    time("lineitem fanout orderBy collect (5 cols)") {
      graft.operators.ScaleOps.fanOutIfTiny(li(), col("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_linenumber").cast("int").as("a"),
          col("l_linenumber").cast("int").as("b"),
          col("l_quantity").cast("double").as("c"))
        .orderBy("l_orderkey", "l_linenumber").collect()
    }
    // Minhash LSH phase split: shingle cache build vs the survivor query
    time("minhash: full pipeline") {
      val (docs, pairs) = graft.operators.NearDup.minhashLshPairs(
        graft.Tables.load(spark, sfDir, "documents"))
      graft.operators.Components.lineageCut(pairs)
      docs.unpersist()
    }
    time("minhash: docs cache build only") {
      val docs = graft.Tables.load(spark, sfDir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 3).as("ws"))
        .cache()
      docs.count()
      docs.unpersist(blocking = true)
    }

    time("minhash: docs localCheckpoint build only") {
      val docs = graft.Tables.load(spark, sfDir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 3).as("ws"))
        .localCheckpoint()
      docs.count()
    }

    // Components phase split: pairs stage vs label rounds
    import graft.functions.TextFunctions.{wordSet, jaccard, jaccardLengthOk}
    def pairsDf() = {
      val d = graft.Tables.load(spark, sfDir, "documents")
        .repartition(spark.sparkContext.defaultParallelism,
          col("lang"), col("source"))
        .select(col("doc_id"), col("lang"), col("source"),
          wordSet(col("text")).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("lang"), col("source"),
        col("ws").as("wa"))
      val b = d.select(col("doc_id").as("id_b"), col("lang"), col("source"),
        col("ws").as("wb"))
      a.join(b.hint("merge"), Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .filter(jaccardLengthOk(col("wa"), col("wb"), 0.8))
        .filter(jaccard(col("wa"), col("wb")) >= 0.8)
        .select(col("id_a"), col("id_b"))
    }
    time("components: pairs stage only (count)") {
      println("  pairs=" + pairsDf().count())
    }
    val edges = pairsDf().select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    time("components: auto rounds over checkpointed edges") {
      graft.operators.Components.connectedComponentsAuto(edges)
        .orderBy("doc_id").collect()
    }
    time("components: star rounds over checkpointed edges") {
      graft.operators.Components.connectedComponentsStar(edges)
        .orderBy("doc_id").collect()
    }
    spark.stop()
  }
}
