package graft

import org.apache.spark.sql.functions._
import graft.ops.LogLines

/** Multi-line record stitching (SURVEY §7.3.3): continuation lines attach
  * to their record, records parse with full bodies, per-file isolation
  * holds.
  */
class StitchSpec extends SparkSpec {
  import spark.implicits._

  private val fileA =
    """2019-04-01 10:02:03 UTC:10.0.0.5(51234):app@prod:[12345]:LOG:  duration: 12.345 ms  statement: SELECT *
      |	FROM users
      |	WHERE id = 42
      |2019-04-01 10:03:00 UTC:10.0.0.6(40000):etl@prod:[12346]:ERROR:  relation "missing" does not exist
      |2019-04-01 10:03:01 UTC:10.0.0.6(40000):etl@prod:[12346]:LOG:  duration: 1.00 ms  statement: SELECT 1""".stripMargin

  private val fileB =
    """garbage preamble that belongs to no record
      |2019-04-02 11:00:00 UTC:10.0.0.7(1):a@b:[1]:LOG:  duration: 3.00 ms  statement: INSERT INTO t VALUES (1)""".stripMargin

  private val files = Seq(("a.log", fileA), ("b.log", fileB))
    .toDF("file_name", "text")

  test("continuation lines stitch onto their record; counts per file hold") {
    val stitched = LogLines.stitchLines(files)
    val byFile = stitched.groupBy("file_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile === Map("a.log" -> 3L, "b.log" -> 1L))
  }

  test("multi-line statement parses with its full body") {
    val parsed = LogLines.parseLines(
      LogLines.stitchLines(files).withColumnRenamed("record_idx", "event_id"))
    val q = parsed.filter(col("duration_ms") === 12.345)
      .select("query").as[String].head()
    assert(q.contains("FROM users") && q.contains("WHERE id = 42"))
    assert(q.startsWith("SELECT *"))
    // single-line records are untouched
    assert(parsed.filter(col("duration_ms") === 1.0)
      .select("query").as[String].head() === "SELECT 1")
  }

  test("preamble junk before the first record start is dropped") {
    val stitched = LogLines.stitchLines(files)
      .filter(col("file_name") === "b.log")
      .select("line").as[String].collect()
    assert(stitched.length === 1 && !stitched.head.contains("garbage"))
  }

  /** The wholetext result as a comparable (file, idx, line) set. */
  private def wholetextForm(fs: Seq[(String, String)]): Set[(String, Long, String)] =
    LogLines.stitchLines(fs.toDF("file_name", "text"))
      .as[(String, Long, String)].collect().toSet

  test("CRLF logs stitch identically to LF logs (and actually " +
    "produce records)") {
    val crlf = fileA.replace("\n", "\r\n")
    // \r must not defeat the record-start match
    val whole = wholetextForm(Seq(("a.log", crlf)))
    assert(whole.size === 3, "CRLF must yield the same record count")
    assert(whole === wholetextForm(Seq(("a.log", fileA))),
      "CRLF and LF input must stitch to identical records")
  }
}
