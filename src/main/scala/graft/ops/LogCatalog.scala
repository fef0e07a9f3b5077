package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's log-file *selection* planner re-expressed as one
  * declarative DataFrame expression (SURVEY §3.2,
  * /root/reference/rds_pgbadger.py:83-129).
  *
  * Reference dataflow, per relational step:
  *   1. catalog scan with a pushed name-contains-day filter (S1/P2,
  *      rds_pgbadger.py:88-92) — one listing per day chunk, `k/24 or 1`
  *      chunks (F15, line 98);
  *   2. midnight-straddle catch-up: if `ref - k hours` lands on a day not
  *      yet listed, list that day too (P4 dedup via the `resolved` set,
  *      lines 95-110);
  *   3. drop the still-open reference hour file ("entries could still be
  *      written", P3, lines 112-115);
  *   4. sort descending by the trailing `YYYY-MM-DD-HH` (13 chars) of the
  *      name (O1, F6, line 120) and take the newest `k` (O2, line 124).
  *
  * The plan depends on the catalog:
  *   - over the one-partition local relation that
  *     [[graft.Graft.selectLogFiles]] builds from a directory listing,
  *     Catalyst folds the filters of steps 1-3 into the relation on the
  *     driver. When more than `k` names survive, 3+4 run as one
  *     `TakeOrderedAndProject` job. When at most `k` survive (with `k = 5`,
  *     reference hour 05 of every day), Catalyst drops the limit and a
  *     global sort runs in the one partition, with no exchange, also one
  *     job. GraftSpec pins both cases.
  *   - over any other catalog (the registry's [[catalogFromEvents]],
  *     LogCatalogSpec's fixture) the filters stay in the plan and 3+4 are
  *     one `TakeOrderedAndProject`, with no full sort.
  * At 100 TB the catalog would be a date-partitioned listing table and the
  * same `contains(day)` predicates become partition pruning.
  */
object LogCatalog {

  val NamePrefix = "postgresql.log."

  /** Synthetic hourly log-file catalog derived from `events` hours —
    * FIXTURES.md §2.1's oracle-friendly variant. One row per distinct hour:
    * `postgresql.log.yyyy-MM-dd-HH`.
    */
  def catalogFromEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(concat(lit(NamePrefix), date_format(col("ts"), "yyyy-MM-dd-HH"))
        .as("file_name"))
      .distinct()

  /** Parsed hour timestamp from the trailing 13 chars of a file name
    * (F2/F6, rds_pgbadger.py:120: `strptime(name[-13:], '%Y-%m-%d-%H')`).
    */
  def parsedTs(fileName: org.apache.spark.sql.Column) =
    to_timestamp(substring(fileName, -13, 13), "yyyy-MM-dd-HH")

  private val HourSuffix = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd-HH")
    .withResolverStyle(java.time.format.ResolverStyle.STRICT)

  /** Whether a file name ends in a valid `yyyy-MM-dd-HH` hour, i.e.
    * whether [[parsedTs]] parses it. A name that does not (a rotated
    * `postgresql.log.2024-01-15-03.gz`) would fail the whole selection
    * with `CANNOT_PARSE_TIMESTAMP` once a day filter lets it through.
    */
  def hasHourSuffix(fileName: String): Boolean =
    fileName.length >= 13 &&
      scala.util.Try(HourSuffix.parse(fileName.takeRight(13))).isSuccess

  /** Steps 1-4 above over an arbitrary `file_name` catalog.
    *
    * @param referenceDateHour `yyyy-MM-dd-HH` literal (never wall-clock —
    *   SURVEY §7.3.5); the reference defaults this to `utcnow()`
    *   (rds_pgbadger.py:81) which we make an explicit parameter.
    * @param maxRecords top-K bound (luigi `max_records`, default 5).
    */
  def selectLogFiles(catalog: DataFrame, referenceDateHour: String,
                     maxRecords: Int): DataFrame = {
    val refTs = to_timestamp(lit(referenceDateHour), "yyyy-MM-dd-HH")
    // Day chunks walked by the reference: ceil-ish `k/24 or 1` days back
    // from the reference day (rds_pgbadger.py:97-102) ...
    val dayChunks = math.max(maxRecords / 24, 1)
    val days = (0 until dayChunks).map(i =>
      date_format(date_sub(refTs.cast("date"), i), "yyyy-MM-dd"))
    // ... plus the midnight-straddle day of `ref - k hours` when it is not
    // already covered (rds_pgbadger.py:104-110). The `resolved`-set dedup
    // is by construction here: a fixed, distinct literal day list.
    val straddleDay = date_format(
      refTs - expr(s"INTERVAL $maxRecords HOURS"), "yyyy-MM-dd")
    val containsAnyDay = (days :+ straddleDay)
      .map(d => col("file_name").contains(d))
      .reduce(_ || _)
    catalog
      .filter(containsAnyDay)                                      // P2 (pushed)
      .filter(!col("file_name").endsWith(lit(referenceDateHour)))  // P3
      // A live RDS catalog only holds files up to "now"; our static test
      // catalog spans the whole month, so make the same bound explicit:
      .filter(parsedTs(col("file_name")) <= refTs)
      .orderBy(parsedTs(col("file_name")).desc, col("file_name").desc) // O1
      .limit(maxRecords)                                           // O2 → TopK
  }

  /** DuckDB oracle twin of [[selectLogFiles]] over the events-derived
    * catalog; kept next to the Scala so the two stay in sync.
    */
  def selectLogFilesOracleSql(referenceDateHour: String, maxRecords: Int): String = {
    val dayChunks = math.max(maxRecords / 24, 1)
    val days = (0 until dayChunks)
      .map(i => s"strftime(strptime('$referenceDateHour','%Y-%m-%d-%H') - INTERVAL $i DAY, '%Y-%m-%d')")
    val straddle = s"strftime(strptime('$referenceDateHour','%Y-%m-%d-%H') - INTERVAL $maxRecords HOUR, '%Y-%m-%d')"
    val contains = (days :+ straddle)
      .map(d => s"contains(file_name, $d)").mkString(" OR ")
    s"""WITH catalog AS (
       |  SELECT DISTINCT 'postgresql.log.' || strftime(ts, '%Y-%m-%d-%H') AS file_name
       |  FROM events)
       |SELECT file_name FROM catalog
       |WHERE ($contains)
       |  AND NOT ends_with(file_name, '$referenceDateHour')
       |  AND strptime(file_name[-13:], '%Y-%m-%d-%H') <= strptime('$referenceDateHour','%Y-%m-%d-%H')
       |ORDER BY strptime(file_name[-13:], '%Y-%m-%d-%H') DESC, file_name DESC
       |LIMIT $maxRecords""".stripMargin
  }
}
