package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming twin of the hourly report aggregation (SURVEY §2.9).
  *
  * The reference encodes micro-batch semantics by hand: one run per hour,
  * skip the still-open hour file "as entries could still be written"
  * (/root/reference/rds_pgbadger.py:112-115), re-list the previous day when
  * the window straddles midnight (:104-110), and memoize finished outputs
  * (:25-26,44-49). Those map one-to-one onto Structured Streaming:
  *
  *   - tumbling `window(ts, "1 hour")`  ← one log file per hour;
  *   - `withWatermark("ts", "1 hour")`  ← open-hour exclusion: a window is
  *     only emitted (Append mode) once the watermark passes its end, i.e.
  *     never while "entries could still be written";
  *   - watermark lateness tolerance     ← midnight-straddle catch-up;
  *   - checkpointed file sink           ← exactly-once memoization.
  *
  * At scale this is shuffle-per-microbatch on (window, event_type) only —
  * state is one row per open hour per class, bounded by the watermark.
  */
object Hourly {

  /** Event-time hourly aggregation over any `ts/event_type/value` frame.
    * Works identically on a batch frame or a `readStream` frame — the same
    * plan is the batch oracle for the streaming test.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Start the checkpointed hourly pipeline over a parquet directory and
    * return the running query — the restartable S7 shape. Exactly-once
    * across kills is carried by two logs the caller never manages:
    *
    *   - the CHECKPOINT's offset/commit log: a committed micro-batch is
    *     never re-read from the source on restart (no losses: an
    *     uncommitted batch is replayed from its recorded offsets);
    *   - the file sink's `_spark_metadata` log: data files are registered
    *     only when their batch commits, so files a mid-batch kill left
    *     behind are INVISIBLE to readers (no dupes) and the replayed
    *     batch's files supersede them.
    *
    * `maxFilesPerTrigger` bounds each micro-batch (one log file per batch
    * mirrors the reference's one-run-per-hour cadence and keeps per-batch
    * state flush bounded at scale).
    */
  def startFromParquet(spark: SparkSession, dir: String,
                       checkpoint: String, out: String,
                       glob: String = "events.parquet",
                       maxFilesPerTrigger: Option[Int] = None,
                       schema: Option[org.apache.spark.sql.types.StructType] =
                         None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Stream with the RAW on-disk schema (ts as nano-long), then apply the
    // same µs conversion Tables.events does for batch — only nano-long ts
    // needs converting, same schema guard as Tables.events. Pass `schema`
    // (the raw file shape) to deploy the pipeline AHEAD of its first data
    // file — the inference fallback needs at least one matching file.
    FileStreams.startParquetSink(spark, dir, checkpoint, out, glob,
        maxFilesPerTrigger, schema) { raw =>
      hourlyAgg(
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw)
    }
  }

}
