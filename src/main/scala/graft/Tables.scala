package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** Table catalog over the driver-generated parquet corpus.
  *
  * Mirrors the reference's session-local table registry
  * (`src/Interpreters/DatabaseCatalog` semantics, engine = MergeTree reads)
  * as plain partition-prunable parquet scans: `spark.read.parquet` gives us
  * columnar vectorized reads, predicate pushdown, and row-group min/max
  * pruning — the Spark analog of MergeTree granule pruning
  * (reference: src/Storages/MergeTree/MergeTreeDataSelectExecutor.h:20).
  *
  * At cluster scale the same API reads a partitioned directory tree
  * (PARTITION BY date-ish expr → hive-style dirs), so nothing here is
  * local-mode specific.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Remember the last dir registered per session so repeated query
  // invocations don't re-derive schemas from footers; a dir change (rare:
  // tests, sf switches) re-registers everything.
  private val lastDir = TrieMap.empty[String, String]

  /** Register every corpus table of `dir` as a temp view (idempotent).
    * Fault-isolated per table: a single unreadable/drifted file must not
    * take the whole catalog down (the reference likewise fails per-table,
    * not per-catalog — src/Interpreters/DatabaseCatalog.cpp load loop).
    */
  def register(spark: SparkSession, dir: String): Unit = {
    graft.plans.Rules.install(spark)
    val sessionKey = spark.sparkContext.applicationId + "#" + spark.hashCode()
    if (!lastDir.get(sessionKey).contains(dir)) {
      val failures = names.flatMap { n =>
        try {
          load(spark, dir, n).createOrReplaceTempView(n)
          None
        } catch {
          case e: Exception =>
            System.err.println(s"[graft.Tables] failed to register '$n': ${e.getMessage}")
            Some(n)
        }
      }
      if (failures.isEmpty) lastDir(sessionKey) = dir // degraded → retry next call
      else System.err.println(
        s"[graft.Tables] degraded catalog, missing: ${failures.mkString(",")}")
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else readParquet(spark, s"$dir/$name.parquet")
  }

  // Parquet read settings that change the schema Spark infers.
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = TrieMap.empty[Seq[Any], StructType]

  /** `spark.read.parquet(path)` without the schema-inference job Spark
    * launches on every read (`mergeSchemasInParallel`): the schema is
    * inferred once and memoized by path, the length and modification time
    * of every data file under it, and the read settings that shape it. A
    * file rewritten at the same path is re-inferred. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sorted
      Some(Seq(path, files) ++ schemaConfs.map(spark.conf.getOption))
    } catch { case _: java.io.IOException => None }
    key.flatMap(schemas.get) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach { k =>
          if (schemas.size >= 256) schemas.clear()
          schemas.put(k, df.schema)
        }
        df
    }
  }

  /** Schema-adaptive events read. The corpus has shipped `ts` both as
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright) and as TIMESTAMP(MICROS); input physical-type drift is a
    * certainty at scale, so branch on what the file actually contains —
    * the reference re-derives per-file physical types on every read
    * (src/Formats/SchemaInferenceUtils.h, MergeTreeData.cpp header checks).
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // With nanosAsLong set, a NANOS file reads ts as LongType while a
    // MICROS file is unaffected (reads as timestamp). Branch on the result.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, path)
    raw.schema("ts").dataType match {
      case LongType =>
        // Raw nanos: truncate to micros — the same ns→µs truncation DuckDB
        // applies casting TIMESTAMP_NS to TIMESTAMP, so oracles line up.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampType | _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  }
}
