package graft

import org.apache.spark.sql.functions._
import graft.ops.LogLines

/** Tier-B parser over the FIXTURES.md §2.2 literal pg-log lines. */
class LogLinesSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    1L -> "2019-04-01 10:02:03 UTC:10.0.0.5(51234):app@prod:[12345]:LOG:  duration: 12.345 ms  statement: SELECT * FROM users WHERE id = 42",
    2L -> "2019-04-01 10:03:00 UTC:10.0.0.6(40000):etl@prod:[12346]:ERROR:  relation \"missing_table\" does not exist",
    3L -> "2019-04-01 10:03:01 UTC:10.0.0.6(40000):etl@prod:[12346]:FATAL:  terminating connection due to administrator command",
    4L -> "2019-04-01 10:05:00 UTC:10.0.0.5(51234):app@prod:[12345]:WARNING:  there is no transaction in progress"
  ).toDF("event_id", "line")

  private lazy val parsed = LogLines.parseLines(fixture).collect()
    .map(r => r.getAs[Long]("event_id") -> r).toMap

  test("duration line fully parsed (F16/F17)") {
    val r = parsed(1L)
    assert(r.getAs[String]("remote_host") === "10.0.0.5(51234)")
    assert(r.getAs[String]("usr") === "app")
    assert(r.getAs[String]("db") === "prod")
    assert(r.getAs[Int]("pid") === 12345)
    assert(r.getAs[String]("level") === "LOG")
    assert(r.getAs[Double]("duration_ms") === 12.345)
    assert(r.getAs[String]("query") === "SELECT * FROM users WHERE id = 42")
    assert(r.getAs[java.sql.Timestamp]("ts").toString.startsWith("2019-04-01 10:02:03"))
  }

  test("error/fatal/warning lines: level + null duration (P6)") {
    assert(parsed(2L).getAs[String]("level") === "ERROR")
    assert(parsed(3L).getAs[String]("level") === "FATAL")
    assert(parsed(4L).getAs[String]("level") === "WARNING")
    assert(parsed(2L).getAs[Any]("duration_ms") === null)
    assert(parsed(2L).getAs[String]("query") === "")
  }

  test("query normalization strips literals (F18)") {
    val got = Seq("SELECT * FROM t WHERE id = 42 AND name = 'bob'  AND x=7")
      .toDF("q").select(LogLines.normalizeQuery(col("q"))).as[String].head()
    assert(got === "select * from t where id = ? and name = ? and x=?")
  }

  test("overflowing pid yields null, not a crashed task") {
    val r = LogLines.parseLines(Seq(
      1L -> "2019-04-01 10:02:03 UTC:h:u@d:[99999999999]:LOG:  x"
    ).toDF("event_id", "line")).head()
    assert(r.getAs[Any]("pid") === null)
    assert(r.getAs[String]("level") === "LOG")
  }

  test("parseLogFiles: unique event_ids and file identity across files") {
    val root = java.nio.file.Files.createTempDirectory("graft_pld").toString
    val line1 = "2019-04-01 10:00:00 UTC:h:u@d:[1]:LOG:  one"
    val line2 = "2019-04-01 11:00:00 UTC:h:u@d:[2]:LOG:  two"
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f1.log"),
      java.util.List.of(line1, line2))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f2.log"),
      java.util.List.of(line1, line2))
    val parsed = LogLines.parseLogFiles(spark, root)
    assert(parsed.count() === 4)
    assert(parsed.select("event_id").distinct().count() === 4)
    assert(parsed.select("file_name").distinct().count() === 2)
  }

  test("synthesize→parse round-trips on real events (b9 shape)") {
    val n = LogLines.parsedFromEvents(spark, "/root/testdata/sf0.001")
      .filter(col("level").isin("LOG", "ERROR") && col("pid").isNotNull)
      .count()
    assert(n === 1000L)
  }
}
