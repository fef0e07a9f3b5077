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

  test("file-source AvailableNow stream over the events parquet emits closed windows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Hourly.startFromParquet(spark, "/root/testdata/sf0.001",
      s"$tmp/ckpt", s"$tmp/out").awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val batch = Hourly.hourlyAgg(
      graft.ops.Tables.events(spark, "/root/testdata/sf0.001"))
    // emitted windows must be exactly a prefix of the batch result: every
    // emitted row appears in the batch twin, only watermark-open windows
    // may be withheld
    assert(out.count() > 0)
    assert(out.exceptAll(batch).count() === 0)
    val withheld = batch.exceptAll(out)
    val maxClosed = out.agg(max(col("hour_start"))).head().getTimestamp(0)
    assert(withheld.filter(col("hour_start") < maxClosed).count() === 0)
  }

  // ---- S7 on a stream: kill → resume must lose nothing and dupe nothing.
  // A mid-batch kill has exactly two observable leftovers, and the test
  // exercises both deterministically:
  //   (1) source side: un-ingested input remains → the resumed run must
  //       process it exactly once (checkpoint offset log);
  //   (2) sink side: data files written by the dying batch exist on disk
  //       but were never committed to `_spark_metadata` → readers must not
  //       see them (we plant exactly such an orphan file and assert it
  //       stays invisible while physically present).
  test("checkpointed sink restart: resume after kill has no dupes, no losses; " +
    "torn sink files stay invisible") {
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    val tmp = JFiles.createTempDirectory("graft_restart").toString
    val in = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val out = s"$tmp/out"
    JFiles.createDirectories(java.nio.file.Paths.get(in))

    // Split the events table into 4 event-time-ordered files so the
    // watermark advances file by file (one micro-batch per file below).
    val ev = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
    val withQ = ev.withColumn("q", ntile(4).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
    val staged = (1 to 4).map { i =>
      val stage = s"$tmp/stage_q$i"
      withQ.filter(col("q") === i).drop("q").coalesce(1)
        .write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
    }
    def arrive(i: Int): Unit = { // distinct ascending mtimes → stable order
      val dst = new java.io.File(in, s"q$i.parquet")
      JFiles.copy(staged(i - 1).toPath, dst.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1700000000000L + i * 1000L)
    }

    // Run 1: only half the input has arrived; one file per micro-batch.
    arrive(1); arrive(2)
    Hourly.startFromParquet(spark, in, ckpt, out,
      glob = "*.parquet", maxFilesPerTrigger = Some(1)).awaitTermination()
    val afterKill = spark.read.parquet(out).count()
    assert(afterKill > 0, "run 1 must have committed some closed windows")

    // Plant the mid-batch-kill artifact: a data file in the sink directory
    // that no committed batch registered in _spark_metadata.
    val torn = plantTornFile(out)

    // Run 2: the rest of the input arrives; same checkpoint + sink.
    arrive(3); arrive(4)
    Hourly.startFromParquet(spark, in, ckpt, out,
      glob = "*.parquet", maxFilesPerTrigger = Some(1)).awaitTermination()

    val emitted = spark.read.parquet(out)
    val batch = Hourly.hourlyAgg(ev)
    // No dupes, no spurious rows: every emitted row (multiset!) appears in
    // the batch twin — a replayed batch or a visible torn file would leave
    // a remainder here.
    assert(emitted.count() > afterKill, "run 2 must have made progress")
    assert(emitted.exceptAll(batch).count() === 0,
      "restart produced duplicate or spurious rows")
    // No losses: only windows the final watermark left open may be missing.
    val maxClosed = emitted.agg(max(col("hour_start"))).head().getTimestamp(0)
    assert(batch.exceptAll(emitted)
      .filter(col("hour_start") < maxClosed).count() === 0,
      "restart lost closed windows")
    // The torn file is physically present, non-empty, and yet unread.
    assertTornInvisible(torn)
  }

  test("explicit source schema lets the pipeline start AHEAD of data: " +
    "empty input dir runs clean with schema, throws without") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.types._
    val tmp = JFiles.createTempDirectory("graft_ahead").toString
    val in = s"$tmp/in"
    JFiles.createDirectories(java.nio.file.Paths.get(in))
    // a monitor deployed before its first data file arrives: the dir
    // exists, no matching files yet — a NORMAL state, not an error
    val raw = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = Hourly.startFromParquet(spark, in, s"$tmp/ckpt", s"$tmp/out",
      schema = Some(raw))
    q.awaitTermination(60000)
    assert(!q.isActive)
    assert(q.exception.isEmpty, s"ahead-of-data start failed: ${q.exception}")
    // the sink holds zero committed files; a schema-given read is empty
    assert(spark.read
      .schema("hour_start timestamp, event_type string, n long, sum_value double")
      .parquet(s"$tmp/out").count() === 0L)
    // without the explicit schema the inference fallback still throws —
    // the documented pre-existing behavior the schema param exists to fix
    intercept[org.apache.spark.sql.AnalysisException](
      Hourly.startFromParquet(spark, in, s"$tmp/ckpt2", s"$tmp/out2"))
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
