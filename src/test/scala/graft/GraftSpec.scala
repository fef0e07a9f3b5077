package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ops.{LogLines, Tables}

/** The facade end to end: a directory of hourly `postgresql.log.*` files →
  * select → ingest → parse → report sections → memoized publish; re-run is
  * a no-op (Luigi-style idempotence).
  */
class GraftSpec extends SparkSpec {

  private def writeLogDir(): String = {
    val root = Files.createTempDirectory("graft_pipeline").toString
    val lines = LogLines.synthesizeLines(
        Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("line"), regexp_extract(col("line"),
        "^(\\d{4}-\\d{2}-\\d{2}) (\\d{2})", 1).as("d"),
        regexp_extract(col("line"), "^\\d{4}-\\d{2}-\\d{2} (\\d{2})", 1).as("h"))
      .collect()
    lines.groupBy(r => s"${r.getString(1)}-${r.getString(2)}").foreach {
      case (hour, rows) =>
        Files.write(Paths.get(root, s"postgresql.log.$hour"),
          rows.map(_.getString(0)).toSeq.asJava, UTF_8)
    }
    root
  }

  private val multiLineLf = "postgresql.log.2024-03-01-01"
  private val multiLineCrlf = "postgresql.log.2024-03-01-02"
  private val multiLineEmpty = "postgresql.log.2024-03-01-03"

  /** Log shapes pgBadger reads and physical-line reads do not: leading
    * junk, a statement wrapped over three tab-continued lines, an ERROR
    * with its DETAIL record; the same records again with CRLF endings in
    * the next hour, then an empty hour. Four records per non-empty file.
    */
  private def writeMultiLineLogDir(): String = {
    val root = Files.createTempDirectory("graft_multiline").toString
    val records = Seq(
      "could not write to log file: No space left on device",
      "2024-03-01 01:00:01 UTC:10.0.0.5(51234):app@prod:[12345]:LOG:  " +
        "duration: 12.34 ms  statement: SELECT *",
      "\tFROM users",
      "\tWHERE id = 42 AND name = 'bob'",
      "2024-03-01 01:00:02 UTC:10.0.0.6(40000):etl@prod:[12346]:ERROR:  " +
        "duplicate key value violates unique constraint \"users_pkey\"",
      "2024-03-01 01:00:02 UTC:10.0.0.6(40000):etl@prod:[12346]:DETAIL:  " +
        "Key (id)=(7) already exists.",
      "2024-03-01 01:00:03 UTC:10.0.0.5(51234):app@prod:[12345]:LOG:  " +
        "duration: 1.50 ms  statement: SELECT 1")
    def write(name: String, text: String): Unit =
      Files.write(Paths.get(root, name), text.getBytes(UTF_8))
    write(multiLineLf, records.mkString("", "\n", "\n"))
    write(multiLineCrlf, records.mkString("", "\r\n", "\r\n"))
    write(multiLineEmpty, "")
    root
  }

  private def sectionRows(sections: Map[String, org.apache.spark.sql.DataFrame])
      : Map[String, Seq[org.apache.spark.sql.Row]] =
    sections.map { case (name, df) => name -> df.collect().toSeq }

  test("multi-line logs: stitched records, CRLF twin, empty hour → report") {
    import spark.implicits._
    val logDir = writeMultiLineLogDir()
    val out = Files.createTempDirectory("graft_multiline_doc").toString
    assert(Graft.writeReportDocument(spark, logDir, out, "2024-03-01-04", 5))
    val html = new String(Files.readAllBytes(
      Paths.get(out, "report_2024-03-01-04.html")), UTF_8)
    // query_stats holds the whole statement, continuation lines included
    assert(html.contains("<td>select * from users where id = ? and name = ?</td>"))

    def read(names: String*) =
      Graft.readLogLines(spark, logDir, names.toDF("file_name"))
    assert(read(multiLineLf).count() === 4) // junk dropped, lines stitched
    assert(read(multiLineLf).filter($"level" === "DETAIL").count() === 1)
    assert(read(multiLineEmpty).count() === 0)
    assert(read(multiLineLf, multiLineCrlf, multiLineEmpty).count() === 8)
    assert(sectionRows(Graft.reportSections(read(multiLineCrlf))) ===
      sectionRows(Graft.reportSections(read(multiLineLf))))
  }

  test("report sections read one materialized parse, never the log files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Walk extends AdaptiveSparkPlanHelper
    def fileScans(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // the final adaptive plan
      Walk.collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
    }
    val logDir = writeLogDir()
    val selected = Graft.selectLogFiles(spark, logDir, "2024-01-15-02", 5)
    val parsed = Graft.readLogLines(spark, logDir, selected)
    assert(fileScans(parsed).nonEmpty) // the walk does see file scans
    val sections = Graft.reportSections(parsed)
    assert(sections.size === 7)
    sections.foreach { case (name, df) =>
      assert(fileScans(df).isEmpty, s"$name scans the log files")
    }
  }

  test("readLogLines event_ids: distinct across files, same under any " +
    "read partitioning") {
    import spark.implicits._
    val logDir = writeMultiLineLogDir()
    val selected = Seq(multiLineLf, multiLineCrlf).toDF("file_name")
    def withConfs[T](kv: (String, String)*)(f: => T): T = {
      val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    def ids(): (Int, Set[(String, Long, String)]) = {
      val df = Graft.readLogLines(spark, logDir, selected)
      (df.rdd.getNumPartitions, df.select("file_name", "event_id", "query")
        .as[(String, Long, String)].collect().toSet)
    }
    // one file per partition, then both files packed into one partition
    val (nSplit, split) = withConfs(
      "spark.sql.files.maxPartitionBytes" -> "1")(ids())
    val (nPacked, packed) = withConfs(
      "spark.sql.files.maxPartitionBytes" -> "1g",
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> "1")(ids())
    assert(nSplit === 2 && nPacked === 1)
    assert(split.size === 8)
    assert(split.map(_._2).size === 8) // the twin files share no id
    assert(packed === split)
  }

  test("full pipeline: select → read → parse → reports → idempotent publish") {
    val logDir = writeLogDir()
    val out = Files.createTempDirectory("graft_reports").toString
    // pick a reference hour that exists mid-corpus (events span 2024-01)
    Graft.runReportPipeline(spark, logDir, out, "2024-01-15-02", 5)

    val selected = Graft.selectLogFiles(spark, logDir, "2024-01-15-02", 5)
    val sel = selected.collect().map(_.getString(0))
    assert(sel.length === 5)
    assert(!sel.exists(_.endsWith("2024-01-15-02"))) // open hour dropped

    val levels = spark.read.parquet(s"$out/level_counts")
    assert(levels.count() > 0)
    val totalLines = spark.read.parquet(s"$out/hourly_histogram")
      .agg(sum(col("n"))).head().getLong(0)
    // exactly the lines of the 5 selected hourly files
    val expected = Graft.readLogLines(spark, logDir, selected).count()
    assert(totalLines === expected)

    // idempotence: re-run must not duplicate or change outputs
    val before = levels.collect().toSet
    Graft.runReportPipeline(spark, logDir, out, "2024-01-15-02", 5)
    assert(spark.read.parquet(s"$out/level_counts").collect().toSet === before)
  }

  test("report document: sections → one HTML artifact, memoized re-run skips") {
    val logDir = writeLogDir()
    val out = Files.createTempDirectory("graft_report_doc").toString
    val wrote = Graft.writeReportDocument(spark, logDir, out,
      "2024-01-15-02", 5)
    assert(wrote)
    val target = Paths.get(out, "report_2024-01-15-02.html")
    val html = new String(Files.readAllBytes(target), UTF_8)
    // one artifact containing every section, reference-style
    Seq("level_counts", "hourly_histogram", "query_stats", "percentiles",
      "top_slowest", "error_rate_hourly").foreach(s =>
      assert(html.contains(s"<h2>$s</h2>"), s))
    assert(html.contains("<td>")) // real rows rendered, not empty tables
    assert(!Files.list(Paths.get(out)).iterator().asScala
      .exists(_.getFileName.toString.contains(".tmp-"))) // temp renamed away
    // (a .crc sibling is Hadoop local-FS checksumming, not a leak)
    // memoized skip: second run neither rewrites nor replans
    val m0 = Files.getLastModifiedTime(target)
    assert(!Graft.writeReportDocument(spark, logDir, out,
      "2024-01-15-02", 5))
    assert(Files.getLastModifiedTime(target) === m0)
  }

  test("report HTML escapes quotes — no attribute breakout via names") {
    import spark.implicits._
    val html = Graft.renderReportHtml("t",
      Map("""x" onmouseover="alert(1)""" -> Seq(("a", 1)).toDF("c", "n")))
    assert(!html.contains("onmouseover=\"alert"))
    assert(html.contains("&quot;"))
  }

  test("CLI main: flags → full pipeline on a temp dir; bad args rejected") {
    val logDir = writeLogDir()
    val out = Files.createTempDirectory("graft_cli").toString
    Graft.main(Array(
      "--log-dir", logDir, "--out-dir", out,
      "--reference-datetime", "2024-01-15 02:00:00",
      "--max-records", "5"))
    assert(spark.read.parquet(s"$out/level_counts").count() > 0)
    assert(spark.read.parquet(s"$out/top_slowest").count() > 0)
    // the caller's session must survive main (it didn't create it)
    assert(!spark.sparkContext.isStopped)
    // click-style yyyy-MM-dd-HH form accepted too, and memoized re-run
    Graft.main(Array("--log-dir", logDir, "--out-dir", out,
      "--reference-datetime", "2024-01-15-02"))
    intercept[IllegalArgumentException] {
      Graft.main(Array("--out-dir", out)) // missing required --log-dir
    }
    intercept[IllegalArgumentException] {
      Graft.main(Array("stray"))
    }
    intercept[IllegalArgumentException] { // typo'd flag must not default
      Graft.main(Array("--log-dir", logDir, "--out-dir", out,
        "--max-record", "7"))
    }
    // running inside an existing session must not rewrite its confs
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("backfill memoizes: second run over the same window is a no-op") {
    val logDir = writeLogDir()
    val out = java.nio.file.Files.createTempDirectory("graft_bf").toString
    val first = Graft.backfill(spark, logDir, out,
      "2024-01-15-01", "2024-01-15-03")
    assert(first === Seq("2024-01-15-01", "2024-01-15-02", "2024-01-15-03"))
    val second = Graft.backfill(spark, logDir, out,
      "2024-01-15-01", "2024-01-15-03")
    assert(second.isEmpty)
    // extending the window only processes the new hours
    val third = Graft.backfill(spark, logDir, out,
      "2024-01-15-01", "2024-01-15-04")
    assert(third === Seq("2024-01-15-04"))
  }

  test("observe() metrics ride along with the pipeline run") {
    import scala.collection.mutable
    val captured = mutable.Map.empty[String, Any]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("parse_metrics").foreach { row =>
          captured += ("n_lines" -> row.getAs[Long]("n_lines"),
            "n_unparsed" -> row.getAs[Long]("n_unparsed"))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val parsed = graft.ops.LogLines.parsedFromEvents(spark, "/root/testdata/sf0.001")
      Graft.parsedWithMetrics(parsed).count()
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (captured.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(captured.get("n_lines").contains(1000L))
      assert(captured.get("n_unparsed").contains(0L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("per-file reports: one partition per selected log file") {
    val logDir = writeLogDir()
    val out = java.nio.file.Files.createTempDirectory("graft_pf").toString
    Graft.runPerFileReports(spark, logDir, out, "2024-01-15-02", 5)
    val stats = spark.read.parquet(s"$out/per_file_level_stats")
    val files = stats.select("file_name").distinct().count()
    assert(files === 5)
    // partition pruning reaches the scan when reading one file's report
    val one = stats.filter(col("file_name") === "postgresql.log.2024-01-15-01")
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(one.count() > 0)
  }
}
