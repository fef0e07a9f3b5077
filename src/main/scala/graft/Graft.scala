package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Sinks

/** User-facing facade: the reference's complete job — *select* hourly log
  * files, *ingest* their text, *parse*, *aggregate the pgbadger report
  * sections natively*, and *publish idempotently* — as one composable API.
  * A user of `rds-pgbadger-etl` switches by pointing `runReportPipeline`
  * at the directory their logs land in (local, HDFS, or `s3a://`; the
  * SigV4/download concerns live in the cluster's Hadoop credential chain,
  * not in query code).
  *
  * Every entry point ingests through one path, [[LogLines.parseLogFiles]]
  * (whole-file read → multi-line stitch → parse). The report sections
  * share one materialized parse, so each selected file is read and
  * parsed once per report.
  *
  * The sections are independent small aggregates, so
  * [[renderReportHtml]] and [[runReportPipeline]] run them concurrently,
  * one thread per section up to one per core, created for that call: a
  * report waits for its slowest sections, not the sum of all. Those threads
  * inherit the caller's Spark local properties (job group, scheduler
  * pool, job tags, any custom property), so `cancelJobGroup` and
  * per-caller attribution keep working. The first section to fail
  * cancels the other sections' jobs, and its own exception is rethrown
  * unwrapped once every section thread has stopped.
  */
object Graft {

  /** The §3.2 planner over a real log directory: list files, keep the
    * newest `maxRecords` closed hours for `referenceDateHour`.
    *
    * The catalog is file metadata only, as in the reference
    * (`describe_db_log_files`): one Hadoop `FileSystem.listStatus` of
    * `logDir` through the session's Hadoop conf, so s3a and hdfs list as a
    * local directory does. It keeps regular files and skips the names
    * Spark's file sources skip: `_`/`.`-prefixed (`_SUCCESS`, `.crc`) and
    * in-flight `._COPYING_` uploads. It also skips names that do not end
    * in an hour ([[LogCatalog.hasHourSuffix]]), such as rotated `.gz`
    * copies. The names form a local relation, so the planner's filters
    * fold on the driver and no job reads the directory. The relation is
    * one partition, so ordering the survivors is one job with one task
    * (see [[LogCatalog]]). The listing runs when the frame is built; a
    * missing `logDir` throws `FileNotFoundException` naming it.
    */
  def selectLogFiles(spark: SparkSession, logDir: String,
                     referenceDateHour: String, maxRecords: Int): DataFrame = {
    import spark.implicits._
    val dir = new org.apache.hadoop.fs.Path(logDir)
    val names = dir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(dir).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
      .filter(LogCatalog.hasHourSuffix)
    // one partition: when at most maxRecords names survive, Catalyst drops
    // the limit, and a global sort over several partitions would add a
    // range exchange and two more jobs
    LogCatalog.selectLogFiles(names.toDF("file_name").coalesce(1),
      referenceDateHour, maxRecords)
  }

  /** Ingest the selected files as parsed log records (file identity
    * kept) through [[LogLines.parseLogFiles]]: multi-line statements and
    * CRLF files stitch into whole records, and `event_id` is a hash of
    * (file, record index), stable across reads. The file list is
    * collected to the driver — it is bounded by `max_records` (≤ a
    * handful by the reference's contract, rds_pgbadger.py:80), and
    * passing explicit paths means Spark lists and scans ONLY those files;
    * reading the whole directory and semi-joining would scan everything.
    */
  def readLogLines(spark: SparkSession, logDir: String,
                   selected: DataFrame): DataFrame =
    LogLines.parseLogFiles(spark,
      selected.collect().map(r => s"$logDir/${r.getString(0)}").toSeq: _*)

  /** Parsed lines instrumented with `observe()` metrics — pipeline
    * telemetry (rows, parse failures, max duration) collected as a side
    * effect of the run, no extra pass over the data.
    */
  def parsedWithMetrics(parsed: DataFrame): DataFrame =
    parsed.observe("parse_metrics",
      count(lit(1)).as("n_lines"),
      count(when(col("level") === "", 1)).as("n_unparsed"),
      max(col("duration_ms")).as("max_duration_ms"))

  /** Every pgbadger-style report section off one parsed-lines frame. The
    * columns the sections read are materialized once ([[Checkpoints.cut]],
    * one job), and all seven sections read that cut: the log text is
    * scanned and parsed once, not once per section.
    */
  def reportSections(parsed: DataFrame): Map[String, DataFrame] = {
    val once = Checkpoints.cut(parsed.select(col("ts"), col("level"),
      col("duration_ms"), col("pid"), col("query")))
    val ev = once.select(col("ts"), col("level").as("event_type"),
      coalesce(col("duration_ms"), lit(0.0)).as("value"),
      col("pid").as("user_id"), col("query"))
    Map(
      "level_counts" -> Reports.levelCounts(ev),
      "hourly_histogram" -> Reports.hourlyHistogram(ev),
      "query_stats" -> Reports.queryStats(once),
      "distinct_entities" -> Reports.distinctEntities(ev),
      "percentiles" -> Reports.percentiles(ev),
      // tiebreak on a hash of stable parsed columns, so tie-broken output
      // is the same run to run
      "top_slowest" -> Reports.topSlowestPerClass(
        ev.withColumn("event_id",
          xxhash64(col("ts"), col("user_id"), col("query"))), 10),
      "error_rate_hourly" -> Reports.errorRateHourly(ev))
  }

  private def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      // section names are interpolated into quoted id="..." attributes —
      // without these a name containing a quote breaks out of the attribute
      .replace("\"", "&quot;").replace("'", "&#39;")

  /** `action` on every section, up to one thread per core at once;
    * results in the order given. With one core or one section it runs
    * inline. More threads than cores would only queue for the same task
    * slots while each section in flight holds its plan on the driver heap.
    * Threads are created per call, never pooled: a thread takes its Spark
    * local properties from the thread that creates it, so only fresh
    * threads carry the caller's. The first failure cancels the other
    * sections' jobs (a per-call job tag), starts no further section and is
    * rethrown as is once every thread has stopped. The cancel repeats
    * while threads remain, because a section that was planning at the
    * first cancel submits its next job after it.
    */
  private def concurrently[B](sections: Seq[(String, DataFrame)])(
      action: (String, DataFrame) => B): Seq[B] = {
    lazy val sc = sections.head._2.sparkSession.sparkContext
    if (sections.size <= 1 || sc.defaultParallelism <= 1)
      sections.map(action.tupled)
    else {
      val tag = s"graft-sections-${java.util.UUID.randomUUID()}"
      val results = new Array[Any](sections.size)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val next = new java.util.concurrent.atomic.AtomicInteger
      val width = math.min(sections.size, sc.defaultParallelism)
      val threads = Seq.tabulate(width) { t =>
        new Thread(() => {
          sc.addJobTag(tag)
          var i = next.getAndIncrement()
          while (i < sections.size && failure.get == null) {
            try results(i) = action.tupled(sections(i))
            catch {
              case e: Throwable =>
                if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
            }
            i = next.getAndIncrement()
          }
        }, s"graft-section-$t")
      }
      threads.foreach(_.start())
      threads.foreach { t =>
        while (t.isAlive) {
          t.join(50)
          if (failure.get != null) sc.cancelJobsWithTag(tag)
        }
      }
      Option(failure.get).foreach(e => throw e)
      results.toSeq.asInstanceOf[Seq[B]]
    }
  }

  /** Render the report sections into ONE self-contained HTML document —
    * the reference's actual output artifact (one pgbadger HTML per run,
    * rds_pgbadger.py:44-45,60-62). Every section is an AGGREGATE (counts,
    * percentiles, top-k), so collecting it is bounded by construction no
    * matter the input scale; the heavy lifting stays in the distributed
    * section queries.
    *
    * The sections are collected concurrently, one thread per section up
    * to one per core, and the threads inherit the caller's Spark local
    * properties. The document is the same as rendering each section
    * alone: sections appear sorted by name. The first section to fail
    * cancels the others' jobs, and its exception reaches the caller
    * unwrapped.
    */
  def renderReportHtml(title: String,
                       sections: Map[String, DataFrame]): String = {
    val sorted = sections.toSeq.sortBy(_._1)
    val collected = concurrently(sorted)((_, df) => df.collect())
    val body = sorted.zip(collected).map { case ((name, df), rows) =>
      val cols = df.columns
      val head = cols.map(c => s"<th>${htmlEscape(c)}</th>")
        .mkString("<tr>", "", "</tr>")
      val trs = rows.map { r =>
        cols.indices.map { i =>
          val v = if (r.isNullAt(i)) "" else r.get(i).toString
          s"<td>${htmlEscape(v)}</td>"
        }.mkString("<tr>", "", "</tr>")
      }.mkString("\n")
      s"""<section id="${htmlEscape(name)}">
         |<h2>${htmlEscape(name)}</h2>
         |<table>$head
         |$trs
         |</table>
         |</section>""".stripMargin
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8">
       |<title>${htmlEscape(title)}</title></head>
       |<body><h1>${htmlEscape(title)}</h1>
       |$body
       |</body></html>
       |""".stripMargin
  }

  /** The reference's end product: select the reference hour's log files,
    * parse, aggregate every report section, compose ONE HTML report, and
    * publish it memoized+atomic (skip when the artifact already exists —
    * Luigi's `output().exists()` contract). Returns true when the
    * artifact was written, false on the memoized skip.
    */
  def writeReportDocument(spark: SparkSession, logDir: String,
                          outDir: String, referenceDateHour: String,
                          maxRecords: Int = 5): Boolean = {
    val target = s"$outDir/report_$referenceDateHour.html"
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // memo check FIRST: a skipped run must not even plan the queries
    if (fs.exists(new org.apache.hadoop.fs.Path(target))) return false
    val selected = selectLogFiles(spark, logDir, referenceDateHour,
      maxRecords)
    val parsed = readLogLines(spark, logDir, selected)
    val html = renderReportHtml(s"graft report $referenceDateHour",
      reportSections(parsed))
    Sinks.writeStringIfAbsent(spark, target, html)
  }

  /** Windowed backfill — the reference's MainTask over a date range: run
    * the per-reference-hour pipeline for every hour in [fromHour, toHour]
    * (`yyyy-MM-dd-HH`, inclusive), with Luigi-style memoization: an hour
    * whose output exists is skipped, so an interrupted backfill resumes
    * where it stopped. Returns the hours actually processed.
    */
  def backfill(spark: SparkSession, logDir: String, outDir: String,
               fromHour: String, toHour: String,
               maxRecords: Int = 5): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")
    var h = java.time.LocalDateTime.parse(fromHour + ":00",
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH:mm"))
    val end = java.time.LocalDateTime.parse(toHour + ":00",
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH:mm"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val processed = scala.collection.mutable.ArrayBuffer.empty[String]
    while (!h.isAfter(end)) {
      val hour = h.format(fmt)
      val target = s"$outDir/hour=$hour"
      // Hadoop FS so the memo check works on s3a/hdfs targets, not just
      // the local filesystem
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$target/_SUCCESS"))) {
        val selected = selectLogFiles(spark, logDir, hour, maxRecords)
        val parsed = readLogLines(spark, logDir, selected)
        graft.ops.Reports.levelCounts(parsed
            .select(col("level").as("event_type")))
          .write.mode("overwrite").parquet(target)
        processed += hour
      }
      h = h.plusHours(1)
    }
    processed.toSeq
  }

  /** The whole reference workflow, end to end: plan → extract → transform
    * → load, with memoized (re-runnable) outputs per section. The section
    * writes run concurrently, as in [[renderReportHtml]].
    */
  def runReportPipeline(spark: SparkSession, logDir: String, outDir: String,
                        referenceDateHour: String, maxRecords: Int = 5): Unit = {
    val selected = selectLogFiles(spark, logDir, referenceDateHour, maxRecords)
    val parsed = readLogLines(spark, logDir, selected)
    concurrently(reportSections(parsed).toSeq) { (section, df) =>
      Sinks.writeIfAbsent(df, s"$outDir/$section")
    }
  }

  /** CLI entry mirroring the reference's click command
    * (rds_pgbadger.py:132-149): required source/target locations (flag or
    * env var, like click's `envvar=`), optional `--reference-datetime`
    * defaulting to the current UTC hour (the reference's
    * `utcnow()` default, rds_pgbadger.py:81 — the CLI boundary is the one
    * place wall-clock belongs; library code always takes it explicitly).
    *
    * Usage:
    *   graft.Graft --log-dir DIR --out-dir DIR
    *     [--reference-datetime "yyyy-MM-dd HH:mm[:ss]" | yyyy-MM-dd-HH]
    *     [--max-records N]
    * Env fallbacks: GRAFT_LOG_DIR, GRAFT_OUT_DIR (bucket/instance in the
    * reference become the log-dir URI here — s3a://bucket/path works).
    */
  private val KnownFlags =
    Set("log-dir", "out-dir", "reference-datetime", "max-records")

  def main(args: Array[String]): Unit = {
    val opts = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag if flag.startsWith("--") =>
          val key = flag.drop(2)
          // click-style strictness: a typo'd flag must error, not silently
          // fall back to the default
          if (!KnownFlags(key))
            throw new IllegalArgumentException(
              s"unknown option --$key (expected: ${KnownFlags.toSeq.sorted
                .map("--" + _).mkString(", ")})")
          if (i + 1 >= args.length)
            throw new IllegalArgumentException(s"missing value for --$key")
          opts(key) = args(i + 1); i += 2
        case other =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    def required(flag: String, env: String): String =
      opts.get(flag).orElse(sys.env.get(env)).getOrElse(
        throw new IllegalArgumentException(s"missing --$flag (or $$$env)"))
    val logDir = required("log-dir", "GRAFT_LOG_DIR")
    val outDir = required("out-dir", "GRAFT_OUT_DIR")
    val refHour = opts.get("reference-datetime")
      .map { s => // click.DateTime-style or already yyyy-MM-dd-HH
        if (s.matches("\\d{4}-\\d{2}-\\d{2}-\\d{2}")) s
        else java.time.LocalDateTime.parse(s.replace(' ', 'T') +
            (if (s.length == 10) "T00:00" else ""))
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd-HH"))
      }
      .getOrElse(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")))
    val maxRecords = opts.get("max-records").map(_.toInt).getOrElse(5)
    // Reuse a caller's session untouched (builder.config on getOrCreate
    // would silently rewrite its runtime confs — e.g. the timezone);
    // configure UTC only on a session this entry point creates itself.
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse(SparkSession.builder()
      .appName("graft-report-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    try runReportPipeline(spark, logDir, outDir, refHour, maxRecords)
    finally if (existing.isEmpty) spark.stop() // never kill a caller's session
  }
}
