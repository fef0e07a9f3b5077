package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier-B PostgreSQL log-line synthesis, parsing, and query normalization
  * (SURVEY §2.8 F16-F18; invocation contract at
  * /root/reference/rds_pgbadger.py:51-63: `--prefix %t:%r:%u@%d:[%p]:
  * --format stderr`).
  *
  * The reference delegates log parsing to the external pgbadger binary; here
  * it is native column expressions — pure `regexp_extract`/`to_timestamp`,
  * fully codegen'd, no UDFs — so the parse stays inside WholeStageCodegen
  * and scales linearly with input splits (a 100 TB log corpus parses as
  * embarrassingly-parallel parquet/text partitions, no shuffle until the
  * aggregate).
  */
object LogLines {

  /** Deterministic stderr-format lines synthesized from `events` rows
    * (FIXTURES.md §2.2 shape). `error` events become ERROR lines; others
    * become LOG duration lines whose statement embeds literals for the
    * normalizer to strip. Both engines build the identical string, so the
    * parse is oracle-checkable end-to-end.
    *
    * `%t` = `yyyy-MM-dd HH:mm:ss UTC`, `%r` = `10.0.0.<user_id%250>(5<pid>)`,
    * `%u@%d` = `user<user_id>@prod`, `[%p]` = `[1<user_id%97>]`.
    */
  def synthesizeLines(events: DataFrame): DataFrame = {
    val ts = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss 'UTC'")
    val host = concat(lit("10.0.0."), pmod(col("user_id"), lit(250)))
    val pid = pmod(col("user_id"), lit(97)) + lit(10000)
    val prefix = concat_ws(":",
      ts, concat(host, lit("(51234)")),
      concat(lit("user"), col("user_id"), lit("@prod")),
      concat(lit("["), pid.cast("string"), lit("]")))
    val durationLine = concat(prefix,
      lit(":LOG:  duration: "), format_string("%.2f", col("value")),
      lit(" ms  statement: SELECT * FROM t"), pmod(col("event_id"), lit(7)),
      lit(" WHERE id = "), col("event_id"),
      lit(" AND name = 'u"), col("user_id"), lit("'"))
    val errorLine = concat(prefix,
      lit(":ERROR:  relation \"missing_"), pmod(col("event_id"), lit(5)),
      lit("\" does not exist"))
    events.select(
      col("event_id"),
      when(col("event_type") === "error", errorLine)
        .otherwise(durationLine).as("line"))
  }

  /** Parse `line` into the SURVEY §1.1 log-line struct columns — one regex
    * pass per line via [[graft.functions.ParseLogLine]] (the per-field
    * `regexp_extract` composition re-matched the same prefix 6-8×; field
    * semantics are identical). Every other input column (`event_id`,
    * `file_name`, ...) passes through ahead of the parsed fields.
    *
    * The trailing `observe` is load-bearing twice over: it reports how
    * many lines were parsed (the operational metric a 100 TB ingest job
    * watches), and it is a CollectMetrics optimizer barrier — Catalyst
    * may not push a downstream filter below it (that would change the
    * metric), so predicates like `duration_ms.isNotNull` are evaluated
    * on the PARSED columns instead of being pushed under the projection
    * with the parse expression inlined (which re-ran the whole parse per
    * row per predicate). The metric name is unique per call so two
    * parseLines frames can compose in one query (duplicate observed
    * metric names fail analysis).
    */
  def parseLines(lines: DataFrame): DataFrame = {
    val keep = lines.columns.filter(_ != "line").map(c => col(s"`$c`")).toSeq
    val p = graft.functions.ParseLogLine.parse(col("line")).as("p")
    lines.select(keep :+ p: _*)
      .select(keep ++ Seq(
        to_timestamp(col("p.ts_str"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("p.remote_host").as("remote_host"), col("p.usr").as("usr"),
        col("p.db").as("db"), col("p.pid").as("pid"),
        col("p.level").as("level"), col("p.message").as("message"),
        col("p.duration_ms").as("duration_ms"),
        col("p.query").as("query")): _*)
      .observe(Checkpoints.freshMetricName("parse_lines"),
        count(lit(1)).as("n_lines_parsed"))
  }

  /** F18: query-class normalization — numeric literals and single-quoted
    * strings collapse to `?`, whitespace collapses, lowercased.
    */
  def normalizeQuery(q: Column): Column =
    lower(trim(regexp_replace(regexp_replace(regexp_replace(
      q, "'[^']*'", "?"), "\\b\\d+\\b", "?"), "\\s+", " ")))

  /** Synthesized-then-parsed lines for a scale dir. */
  def parsedFromEvents(spark: SparkSession, dir: String): DataFrame =
    parseLines(synthesizeLines(Tables.events(spark, dir)))

  /** A raw line is a record start iff it matches the `%t:` prefix start;
    * anything else (leading whitespace, bare SQL) continues the previous
    * record — real pg logs wrap multi-line statements and DETAIL blocks
    * this way.
    */
  private val RecordStart = "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} UTC:.*".r

  /** Multi-line record stitching (SURVEY §7.3.3).
    *
    * Continuation lines are order-dependent, so stitching happens at file
    * granularity: input is one row per (file_name, whole file text) — the
    * `wholetext` read shape — and each file is stitched in a single
    * forward pass, in parallel across files. The reference's unit of work
    * is the whole hourly file, held in memory by pgBadger, so one file per
    * task keeps its memory contract. Output is (file_name, record_idx,
    * line), record_idx numbering each file's records in file order.
    */
  def stitchLines(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("file_name"), col("text")).as[(String, String)]
      .flatMap { case (file, text) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
        var cur: StringBuilder = null
        var idx = 0L
        // stripSuffix("\r"): CRLF logs must stitch identically to LF
        // logs — without it a trailing \r defeats RecordStart's '.*'
        // (dot excludes line terminators) and every CRLF line reads as
        // junk
        text.split("\n", -1).map(_.stripSuffix("\r")).foreach { raw =>
          if (RecordStart.pattern.matcher(raw).matches()) {
            if (cur != null) out += ((file, idx, cur.toString)); idx += 1
            cur = new StringBuilder(raw)
          } else if (cur != null && raw.nonEmpty) {
            cur.append('\n').append(raw)
          } // leading junk before the first record start is dropped
        }
        if (cur != null) out += ((file, idx, cur.toString))
        out
      }
      .toDF("file_name", "record_idx", "line")
  }

  /** The log ingestion: read each file whole (`wholetext`, one file per
    * task), stitch its multi-line records, and parse them. `paths` are
    * files or directories. `event_id` is xxhash64(file name, record index):
    * unique across files and independent of how the read is partitioned.
    * Output is `file_name`, `event_id` and the [[parseLines]] fields.
    */
  def parseLogFiles(spark: SparkSession, paths: String*): DataFrame = {
    val files = spark.read.option("wholetext", "true").text(paths: _*)
      .select(element_at(split(input_file_name(), "/"), -1).as("file_name"),
        col("value").as("text"))
    parseLines(stitchLines(files).select(col("file_name"),
      xxhash64(col("file_name"), col("record_idx")).as("event_id"),
      col("line")))
  }
}
