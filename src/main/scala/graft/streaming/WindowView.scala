package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming rendering of the reference's streaming surface
  * (SURVEY §2.9): WindowView tumble/hop emission with watermarks
  * (src/Storages/WindowView/StorageWindowView.h:105, watermark strategies
  * :74-91, ALLOWED_LATENESS :93-95), materialized-view push chains
  * (src/Processors/Transforms/buildPushingToViewsChain.cpp), and LiveView
  * (src/Storages/LiveView/StorageLiveView.h:47).
  *
  * The parquet corpus replays as a file stream — the same pattern as the
  * reference's FileLog/S3Queue storages (src/Storages/FileLog,
  * ObjectStorageQueue). At scale the identical code reads a Kafka source:
  * only the `readStream.format` line changes.
  */
object WindowView {

  // The file-stream source requires a directory; the corpus ships events as
  // a single parquet file, so it is staged (once per sf dir) into a temp
  // monitoring directory — the replay analog of files landing in an
  // S3Queue-watched prefix.
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageDir(dir: String): String = staged.getOrElseUpdate(dir, {
    val d = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  })

  /** events.parquet replayed as a bounded file stream. The reader schema
    * is derived from the batch reader (graft.Tables) against the actual
    * file, so physical-type drift in `ts` (the corpus has shipped both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS)) is absorbed in one place:
    * when ts arrives as raw nanos (LongType) truncate to µs like the batch
    * path; when it is already a timestamp, just cast. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(fileSchema).parquet(stageDir(dir))
    fileSchema("ts").dataType match {
      case LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Stream-stream interval join (the funnel primitive: every `leftType`
    * event joined to the same user's `rightType` events within
    * `interval` after it). Both sides carry watermarks so the join state
    * is BOUNDED: left rows age out `interval` past the watermark, right
    * rows at the watermark — the state-cleanup contract a 100 TB stream
    * needs (unbounded join state is the stream killer, not throughput).
    * Works identically on batch frames (watermark is a no-op there) —
    * the same declarative-plan property as the window aggs. */
  def intervalJoin(left: DataFrame, right: DataFrame, leftType: String,
      rightType: String, delay: String, interval: String): DataFrame = {
    val l = left.filter(col("event_type") === leftType)
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.filter(col("event_type") === rightType)
      .withWatermark("ts", delay)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $interval"))
      .select(col("user_id"), col("l_id"), col("r_id"))
  }

  /** TUMBLE window aggregation (FunctionsTimeWindow.cpp:719 tumble):
    * count + exact value sum per (window, event_type). Works identically
    * over a batch or streaming DataFrame — the WindowView's defining
    * property. */
  def tumbleAgg(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** HOP (sliding) window aggregation (FunctionsTimeWindow.cpp hop). */
  def hopAgg(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** BOUNDED watermark strategy (StorageWindowView.h:86-91): windows fire
    * once the max-seen event time passes window end minus `delay`; rows
    * later than that are dropped — `withWatermark` in append mode has the
    * same drop/fire semantics. */
  def withBoundedWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)

  /** STRICTLY_ASCENDING watermark strategy (StorageWindowView.h:74-79):
    * the watermark IS the max event time seen, so any row at or behind an
    * already-seen timestamp is late and dropped. Rendered as a zero-delay
    * bounded watermark — behaviorally identical for out-of-order drops. */
  def withStrictlyAscendingWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "0 seconds")

  /** ALLOWED_LATENESS (StorageWindowView.h:93-95, :212): a late row whose
    * window already fired re-fires that window with the updated aggregate,
    * as long as the row is within the lateness bound; beyond it the row is
    * dropped. Structured Streaming's `update` output mode over a watermark
    * of `lateness` is the same contract: state is kept (and re-emitted on
    * change) until the watermark passes the window end. */
  def tumbleWithAllowedLateness(events: DataFrame, width: String,
      lateness: String): DataFrame =
    tumbleAgg(events.withWatermark("ts", lateness), width)

  /** Streaming exact dedup by key within the watermark horizon — the
    * streaming face of ReplacingMergeTree dedup (reference
    * ReplacingSortedAlgorithm) and the stream form of `q_dedup_exact`
    * (queries.Dedup). State is bounded: keys expire once the watermark
    * passes (dropDuplicatesWithinWatermark), so the operator holds
    * O(keys-per-horizon) state at 100 TB stream rates, not O(all keys). */
  def dedupStream(events: DataFrame, delay: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Materialized-view push chain: every micro-batch is transformed and
    * appended to a parquet target — the foreachBatch rendering of the
    * reference's per-INSERT-block MV pipeline. Returns the running query. */
  def materializedView(source: DataFrame, transform: DataFrame => DataFrame,
      targetDir: String, checkpointDir: String): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        transform(batch).write.mode("append").parquet(targetDir)
      }
      .start()

  /** LiveView: continuously re-evaluated aggregate kept queryable in
    * memory (complete output mode). */
  def liveView(agg: DataFrame, name: String): StreamingQuery =
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
}
