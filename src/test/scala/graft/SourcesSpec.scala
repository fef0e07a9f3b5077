package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{LogLines, Tables}

/** S1/S2 source paths: whole-log-file text ingestion with per-file identity
  * (`input_file_name`), the Spark equivalent of the reference's
  * catalog-scan + per-file download (rds_pgbadger.py:86-93,
  * rds_download_log.py:25-125) — the SigV4/REST plumbing collapses into
  * "a filesystem the cluster can reach".
  */
class SourcesSpec extends SparkSpec {

  test("text source round-trip: files on disk → lines + file identity → parse → agg") {
    val root = Files.createTempDirectory("graft_logs").toString
    // write synthesized log lines into one text file per hour, like the
    // RDS log directory layout
    val lines = LogLines.synthesizeLines(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val withHour = lines
      .select(col("line"), regexp_extract(col("line"),
        "^(\\d{4}-\\d{2}-\\d{2} \\d{2})", 1).as("hour"))
    withHour.write.partitionBy("hour").mode("overwrite").text(root)

    // S2: read back as a line Dataset with identity via input_file_name
    val read = spark.read.text(root)
      .select(col("value").as("line"), input_file_name().as("file"))
    assert(read.count() === 1000L)

    // basename projection (F7) + parse + level tally (G6) equal the
    // in-memory pipeline on the same events
    val viaFiles = LogLines.parseLines(read.withColumn("event_id", lit(0L)))
      .groupBy("level").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = LogLines.parsedFromEvents(spark, "/root/testdata/sf0.001")
      .groupBy("level").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaFiles === direct)
  }

  test("date-partitioned layout prunes partitions at the scan (SURVEY §4)") {
    val root = Files.createTempDirectory("graft_part").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("p_day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.partitionBy("p_day").mode("overwrite").parquet(root)

    val pruned = spark.read.parquet(root)
      .filter(col("p_day") === "2024-01-15")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("2024-01-15"))
    // the pruned read returns exactly that day's rows
    val want = ev.filter(col("p_day") === "2024-01-15").count()
    assert(pruned.count() === want && want > 0)
  }
}
