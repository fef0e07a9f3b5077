package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time form of the hourly report aggregation (SURVEY §2.9; the
  * registry's s1).
  *
  * The reference encodes micro-batch semantics by hand: one run per hour,
  * skip the still-open hour file "as entries could still be written"
  * (rds_pgbadger.py:112-115), and re-list the previous day when the
  * window straddles midnight (:104-110). Those map onto event-time
  * operators:
  *
  *   - tumbling `window(ts, "1 hour")`  ← one log file per hour;
  *   - `withWatermark("ts", "1 hour")`  ← open-hour exclusion: on a
  *     stream a window is only emitted (Append mode) once the watermark
  *     passes its end, i.e. never while "entries could still be written";
  *   - watermark lateness tolerance     ← midnight-straddle catch-up.
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
}
