package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Hourly

/** FIXTURES.md §2.4: MemoryStream replay of events-shaped rows.
  * Asserts (a) the open hour is never emitted while unclosed — the
  * watermark twin of rds_pgbadger.py:112-115 — and (b) closed windows
  * equal the batch aggregation of the same rows.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 10:05:00"), "click", 1.0),
    (ts("2024-01-01 10:15:00"), "click", 2.0),
    (ts("2024-01-01 10:45:00"), "error", 4.0),
    (ts("2024-01-01 11:10:00"), "click", 8.0),
    // late-but-tolerated event for hour 10 (≤ 1h behind max ts)
    (ts("2024-01-01 10:55:00"), "click", 16.0),
    // advances watermark to 11:30 → closes hour 10, hour 11 stays open
    (ts("2024-01-01 12:30:00"), "view", 32.0))

  test("watermark closes hour 10, keeps open hour unemitted; matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
    val q = Hourly.hourlyAgg(streamDf)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(4)) // hours 10, 11 — nothing closed yet
      q.processAllAvailable()
      val early = spark.table("hourly_test").count()
      assert(early === 0L, "no window may be emitted before watermark passes")

      mem.addData(rows.drop(4)) // late row + watermark push past 11:00
      q.processAllAvailable()
      val closed = spark.table("hourly_test")
        .select(date_format(col("hour_start"), "HH").as("h"),
          col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      // exactly hour 10 is closed (watermark = 12:30 - 1h = 11:30 ≥ 11:00
      // closes hour 10; hour 11 and 12 remain open)
      assert(closed === Set(("10", "click", 3L, 19.0), ("10", "error", 1L, 4.0)))

      // (b) closed windows equal the batch twin on the same rows
      val batch = Hourly.hourlyAgg(
          rows.toDF("ts", "event_type", "value"))
        .filter(date_format(col("hour_start"), "HH") === "10")
        .select(date_format(col("hour_start"), "HH"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(closed === batch)
    } finally q.stop()
  }

  test("per-row text operators run UNCHANGED on a stream: " +
    "normalizeRedactRaw + chunkDocsRaw, stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q1 = graft.ops.TextAnalysis.normalizeRedactRaw(stream)
      .writeStream.format("memory").queryName("norm_stream")
      .outputMode("append").start()
    val q2 = graft.ops.TextAnalysis.chunkDocsRaw(stream, 4, 3)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      val docs = Seq((1L, "Call 555 now  or 1234 later maybe tomorrow"),
        (2L, "plain words only here"))
      mem.addData(docs: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val batchDocs = docs.toDF("doc_id", "text")
      assert(spark.table("norm_stream")
        .exceptAll(graft.ops.TextAnalysis.normalizeRedactRaw(batchDocs))
        .isEmpty)
      assert(spark.table("norm_stream").count() === 2)
      assert(spark.table("chunk_stream")
        .exceptAll(graft.ops.TextAnalysis.chunkDocsRaw(batchDocs, 4, 3))
        .isEmpty)
      assert(spark.table("chunk_stream").count() ===
        graft.ops.TextAnalysis.chunkDocsRaw(batchDocs, 4, 3).count())
    } finally { q1.stop(); q2.stop() }
  }

  test("piiRedactRaw runs UNCHANGED on a stream (the ingest-boundary " +
    "scrub), stream ≡ batch on planted PII") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = graft.ops.TextAnalysis.piiRedactRaw(stream)
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      val docs = Seq(
        (1L, "mail admin@site.example or https://site.example/x now"),
        (2L, "host 10.1.2.3 plain"))
      mem.addData(docs: _*)
      q.processAllAvailable()
      val batchDocs = docs.toDF("doc_id", "text")
      assert(spark.table("pii_stream")
        .exceptAll(graft.ops.TextAnalysis.piiRedactRaw(batchDocs)).isEmpty)
      assert(spark.table("pii_stream").count() === 2)
    } finally { q.stop() }
  }

  test("maxFilesPerTrigger paces one log file per micro-batch (S1 pagination analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pace").toString
    Seq("a").toDF("v").write.parquet(s"$dir/f1")
    Seq("b").toDF("v").write.parquet(s"$dir/f2")
    Seq("c").toDF("v").write.parquet(s"$dir/f3")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .schema("v string")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        if (b.count() > 0) batches.incrementAndGet(); ()
      })
      .start()
    try {
      q.processAllAvailable()
      assert(batches.get() === 3) // one file per micro-batch
    } finally q.stop()
  }
}
