package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ops.{LogCatalog, LogLines, Reports, Tables}

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

  /** Three days of hourly files, 2024-01-14-00 … 2024-01-16-23, one
    * record each, plus the entries a log directory collects beside its
    * logs: a `_SUCCESS` marker, hidden `_`/`.`-prefixed copies of hour
    * names, a `.crc` checksum sibling, an in-flight `._COPYING_` upload, a
    * malformed name, and a subdirectory named like hour 2024-01-15-12 (in
    * place of that hour's file) holding one file.
    */
  private def writeHourlyDir(): String = {
    val root = Files.createTempDirectory("graft_listing")
    def write(name: String, text: String): Unit =
      Files.write(root.resolve(name), text.getBytes(UTF_8))
    for (d <- 14 to 16; h <- 0 to 23 if !(d == 15 && h == 12))
      write(f"postgresql.log.2024-01-$d%02d-$h%02d",
        f"2024-01-$d%02d $h%02d:00:01 UTC:10.0.0.5(51234):app@prod:" +
          "[12345]:LOG:  duration: 1.50 ms  statement: SELECT 1\n")
    write("_SUCCESS", "")
    write("_postgresql.log.2024-01-15-09", "")
    write(".postgresql.log.2024-01-15-07", "")
    write(".postgresql.log.2024-01-15-08.crc", "")
    write("postgresql.log.2024-01-16-05._COPYING_", "")
    write("postgresql.log.badname", "")
    val sub = Files.createDirectory(root.resolve("postgresql.log.2024-01-15-12"))
    Files.write(sub.resolve("README"), "not a log".getBytes(UTF_8))
    root.toString
  }

  /** The selection as it was computed before the listing: a `binaryFile`
    * scan of the directory for file names, then the same planner.
    */
  private def scannedSelection(logDir: String, ref: String, k: Int) =
    LogCatalog.selectLogFiles(spark.read.format("binaryFile").load(logDir)
      .select(element_at(split(col("path"), "/"), -1).as("file_name")),
      ref, k)

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

  private object Walk
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The file scans in `df`'s final (post-AQE) plan, subqueries included. */
  private def fileScans(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // the final adaptive plan
    Walk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
  }

  test("report sections read one materialized parse, never the log files") {
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

  /** The jobs the scheduler ran while a call was open, in listener-bus
    * order (the scheduler's order): each start event, each end time, and
    * the most jobs in flight at one moment; also the input bytes that
    * ended tasks read.
    */
  private final class JobLog extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val starts = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val ends = scala.collection.mutable.Map.empty[Int, Long]
    var maxInFlight = 0
    var inputBytes = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts += e
      maxInFlight = math.max(maxInFlight, starts.size - ends.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { ends(e.jobId) = e.time }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      inputBytes += Option(e.taskMetrics).fold(0L)(_.inputMetrics.bytesRead)
    }
  }

  /** Run `f` with a [[JobLog]] attached; also returns the wall-clock
    * millisecond at which `f` returned or threw.
    */
  private def jobsDuring[T](f: => T): (scala.util.Try[T], JobLog, Long) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc) // earlier events are not ours
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val result = scala.util.Try(f)
      val returnedAt = System.currentTimeMillis()
      org.apache.spark.ListenerBusDrain(sc)
      (result, log, returnedAt)
    } finally sc.removeSparkListener(log)
  }

  private def sectionsOf(logDir: String): Map[String, org.apache.spark.sql.DataFrame] =
    Graft.reportSections(Graft.readLogLines(spark, logDir,
      Graft.selectLogFiles(spark, logDir, "2024-01-15-02", 5)))

  test("report sections render concurrently: same jobs, same document as " +
    "one section at a time") {
    val logDir = writeLogDir()
    val title = "graft report 2024-01-15-02"
    val sections = sectionsOf(logDir)
    val (html, all, _) = jobsDuring(Graft.renderReportHtml(title, sections))
    assert(all.maxInFlight >= 2, "no two section jobs ever overlapped")
    // each section alone, from freshly built frames so that none has run
    // before; bodies spliced in name order
    val alone = sections.keys.toSeq.sorted.map { name =>
      val df = sectionsOf(logDir)(name)
      val (doc, log, _) = jobsDuring(Graft.renderReportHtml(title, Map(name -> df)))
      val d = doc.get
      (d.substring(d.indexOf("</h1>\n") + 6, d.lastIndexOf("\n</body>")),
        log.starts.size)
    }
    assert(all.starts.size === alone.map(_._2).sum)
    val empty = Graft.renderReportHtml(title, Map.empty)
    val cut = empty.indexOf("</h1>\n") + 6
    assert(html.get === empty.substring(0, cut) + alone.map(_._1).mkString("\n") +
      empty.substring(cut))
  }

  test("section jobs carry the caller's job group and local properties") {
    val sc = spark.sparkContext
    val logDir = writeLogDir()
    val out = Files.createTempDirectory("graft_props").toString
    sc.setJobGroup("graft-caller", "a caller's group", interruptOnCancel = false)
    sc.setLocalProperty("graft.test.caller", "yes")
    try {
      val (html, render, _) = jobsDuring(
        Graft.renderReportHtml("t", sectionsOf(logDir)))
      val (wrote, pipeline, _) = jobsDuring(
        Graft.runReportPipeline(spark, logDir, out, "2024-01-15-02", 5))
      assert(html.isSuccess && wrote.isSuccess)
      Seq(render, pipeline).foreach { log =>
        assert(log.starts.size > 7)
        log.starts.foreach { e =>
          assert(e.properties.getProperty("spark.jobGroup.id") === "graft-caller")
          assert(e.properties.getProperty("graft.test.caller") === "yes")
        }
      }
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.caller", null)
    }
  }

  test("a failing section cancels the others and reaches the caller " +
    "unwrapped; nothing is left running or published") {
    import org.apache.spark.{SparkThrowable, TaskContext}
    def condition(e: Throwable) = e match {
      case s: SparkThrowable => s.getCondition
      case _ => null
    }
    // healthy, but runs until its task is killed (or 60 s pass)
    val slow = udf { (x: Long) =>
      val until = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < until && !TaskContext.get().isInterrupted())
        Thread.sleep(10)
      x
    }
    def slowSection = spark.range(0, 2, 1, 2).select(slow(col("id")).as("id"))
    val failing = spark.range(1).select(raise_error(lit("section failed")).as("x"))
    val sequential = intercept[Exception](
      Graft.renderReportHtml("t", Map("b_fails" -> failing)))
    assert(condition(sequential) === "USER_RAISED_EXCEPTION")

    val t0 = System.nanoTime()
    val (html, log, returnedAt) = jobsDuring(Graft.renderReportHtml("t",
      Map("a_slow" -> slowSection, "b_fails" -> failing, "c_slow" -> slowSection)))
    assert((System.nanoTime() - t0) / 1e9 < 30, "the slow sections ran out")
    val e = html.failed.get
    assert(e.getClass === sequential.getClass)
    assert(condition(e) === condition(sequential))
    assert(log.starts.nonEmpty)
    log.starts.foreach(s => assert(log.ends.get(s.jobId).exists(_ <= returnedAt),
      s"job ${s.jobId} still running when the render returned"))
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("graft-section-")))

    // writeReportDocument publishes nothing when its sections fail: a
    // duration past decimal(18,2) overflows the sections that sum it
    val logDir = Files.createTempDirectory("graft_overflow").toString
    Files.write(Paths.get(logDir, "postgresql.log.2024-01-15-01"),
      ("2024-01-15 01:00:01 UTC:10.0.0.5(51234):app@prod:[12345]:LOG:  " +
        "duration: 100000000000000000.00 ms  statement: SELECT 1\n")
        .getBytes(UTF_8))
    val out = Files.createTempDirectory("graft_failed_doc").toString
    val overflow = intercept[Exception](
      Graft.writeReportDocument(spark, logDir, out, "2024-01-15-02", 5))
    assert(condition(overflow) === "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
    assert(Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName
      .toString).filter(n => n.endsWith(".html") || n.contains(".tmp-"))
      .isEmpty)
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
    // each hour's parquet holds that hour's level counts, row for row,
    // over the files the directory scan selects for it
    (first ++ third).foreach { h =>
      val want = Reports.levelCounts(Graft.readLogLines(spark, logDir,
          scannedSelection(logDir, h, 5)).select(col("level").as("event_type")))
        .collect().toSeq
      assert(want.map(_.getLong(1)).sum > 0, h)
      assert(spark.read.parquet(s"$out/hour=$h").orderBy("level")
        .collect().toSeq === want, h)
    }
  }

  test("selectLogFiles over the listing ≡ the directory scan it replaced, " +
    "every hour, hidden and non-file entries skipped; empty and missing " +
    "directories") {
    val logDir = writeHourlyDir()
    val refs = (0 to 72).map(i => java.time.LocalDateTime.of(2024, 1, 14, 0, 0)
      .plusHours(i).format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd-HH")))
    def names(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSeq
    val cases = refs.map(_ -> 5) ++ Seq("2024-01-16-10", "2024-01-17-00")
      .map(_ -> 48)
    cases.foreach { case (ref, k) =>
      val got = names(Graft.selectLogFiles(spark, logDir, ref, k))
      assert(got === names(scannedSelection(logDir, ref, k)), s"$ref k=$k")
    }
    // the edge entries sit inside these windows and stay out of them
    def hours(ref: String, day: String, hs: Int*) =
      assert(names(Graft.selectLogFiles(spark, logDir, ref, 5)) ===
        hs.map(h => f"postgresql.log.$day-$h%02d"), ref)
    hours("2024-01-15-13", "2024-01-15", 11, 10, 9, 8, 7)
    hours("2024-01-16-07", "2024-01-16", 6, 5, 4, 3, 2)
    hours("2024-01-14-00", "2024-01-14")

    val empty = Files.createTempDirectory("graft_listing_empty").toString
    assert(names(Graft.selectLogFiles(spark, empty, "2024-01-15-02", 5))
      .isEmpty)
    assert(names(scannedSelection(empty, "2024-01-15-02", 5)).isEmpty)
    val missing = s"$empty/no_such_dir"
    val e = intercept[java.io.FileNotFoundException](
      Graft.selectLogFiles(spark, missing, "2024-01-15-02", 5))
    assert(e.getMessage.contains(missing))
  }

  test("selection plans: no file scan and no input bytes; the day filters " +
    "fold into the listing's local relation; top-k is TakeOrderedAndProject, " +
    "and at ≤ k survivors the limit goes and a global sort runs without an " +
    "exchange; one job either way") {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val logDir = writeHourlyDir()
    def run(ref: String) = {
      val df = Graft.selectLogFiles(spark, logDir, ref, 5)
      val (rows, log, _) = jobsDuring(df.collect())
      assert(rows.isSuccess)
      assert(log.inputBytes === 0L, s"$ref: selection read input bytes")
      assert(fileScans(df).isEmpty, s"$ref: selection scans files")
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case f: logical.Filter => f }.isEmpty)
      val local = optimized.collect { case l: logical.LocalRelation => l }
      assert(local.size === 1)
      (df, rows.get.length, local.head.data.size, log)
    }

    // 2024-01-16-10: hours 00 … 09 survive the filters, 10 > k
    val (topK, nTop, survivorsTop, logTop) = run("2024-01-16-10")
    assert(nTop === 5 && survivorsTop === 10)
    assert(Walk.collect(topK.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t }.size === 1)
    assert(logTop.starts.size === 1)

    // 2024-01-14-05, the first hour with k closed predecessors: exactly
    // k survive, so the limit is dropped and the one partition is sorted
    val (sorted, nSorted, survivorsSorted, logSorted) = run("2024-01-14-05")
    assert(nSorted === 5 && survivorsSorted === 5)
    assert(sorted.queryExecution.optimizedPlan.collect {
      case l: logical.GlobalLimit => l; case l: logical.LocalLimit => l
    }.isEmpty)
    val plan = sorted.queryExecution.executedPlan
    assert(Walk.collect(plan) { case s: SortExec if s.global => s }.size === 1)
    assert(Walk.collect(plan) { case x: ShuffleExchangeExec => x }.isEmpty)
    assert(logSorted.starts.size === 1)
  }

  test("selectLogFiles skips names without a trailing yyyy-MM-dd-HH: a " +
    "rotated .gz inside the day window selects what the directory " +
    "without it selects") {
    val plain = writeHourlyDir()
    val withGz = writeHourlyDir()
    Files.write(Paths.get(withGz, "postgresql.log.2024-01-15-03.gz"),
      "rotated".getBytes(UTF_8))
    def names(dir: String, ref: String) =
      Graft.selectLogFiles(spark, dir, ref, 5).collect()
        .map(_.getString(0)).toSeq
    // every reference hour whose day filters cover 2024-01-15
    val refs = (0 to 28).map(i => java.time.LocalDateTime.of(2024, 1, 15, 0, 0)
      .plusHours(i).format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd-HH")))
    refs.foreach(ref => assert(names(withGz, ref) === names(plain, ref), ref))
    assert(names(withGz, "2024-01-15-05") ===
      (4 to 0 by -1).map(h => f"postgresql.log.2024-01-15-$h%02d"))
  }

  test("observe() metrics ride along with the pipeline run") {
    import scala.collection.mutable
    val captured = mutable.Map.empty[String, Any]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("parse_metrics").foreach { row =>
          captured ++= Seq("n_lines" -> row.getAs[Long]("n_lines"),
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
}
