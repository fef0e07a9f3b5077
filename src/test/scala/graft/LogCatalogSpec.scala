package graft

import graft.ops.LogCatalog

/** Golden test of the SURVEY §3.2 planner over the FIXTURES.md §2.1
  * synthetic catalog: every reference branch — day-chunk filter, midnight
  * straddle, open-hour exclusion, dedup, desc sort, top-K — in one run.
  */
class LogCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def catalog(names: String*) = names.toDF("file_name")

  // ref = 2019-04-02-02, k = 5 → straddle day 2019-04-01 must be listed.
  private val ref = "2019-04-02-02"

  private val fixture = catalog(
    // 2019-04-01 hours 18..23 (straddle day)
    (18 to 23).map(h => f"error/postgresql.log.2019-04-01-$h%02d"): _*)
    .union(catalog(
      // 2019-04-02 hours 00..03 — 02 is the open hour, 03 is the future
      "error/postgresql.log.2019-04-02-00",
      "error/postgresql.log.2019-04-02-01",
      "error/postgresql.log.2019-04-02-02", // open hour → dropped
      "error/postgresql.log.2019-04-02-03", // future → dropped
      // duplicate row across "chunks"
      "error/postgresql.log.2019-04-01-23",
      // malformed name (no date) → never matches a day filter
      "error/postgresql.log.badname",
      // unrelated day
      "error/postgresql.log.2019-03-15-12"))
    .distinct()

  test("planner: top-5 newest closed hours incl. midnight straddle") {
    val got = LogCatalog.selectLogFiles(fixture, ref, 5)
      .as[String].collect().toSeq
    assert(got === Seq(
      "error/postgresql.log.2019-04-02-01",
      "error/postgresql.log.2019-04-02-00",
      "error/postgresql.log.2019-04-01-23",
      "error/postgresql.log.2019-04-01-22",
      "error/postgresql.log.2019-04-01-21"))
  }

  test("planner: open-hour file never selected (P3)") {
    val got = LogCatalog.selectLogFiles(fixture, ref, 24).as[String].collect()
    assert(!got.exists(_.endsWith(ref)))
  }

  test("planner: k larger than catalog returns all closed-hour files") {
    val got = LogCatalog.selectLogFiles(fixture, ref, 100).as[String].collect()
    // 6 straddle-day + 2 closed ref-day hours
    assert(got.length === 8)
  }

  test("planner: k ≥ 48 walks multiple day chunks (F15 path)") {
    // k=48 → k/24 = 2 day-chunks: ref day + previous day; straddle day =
    // ref - 48h = two days back, also listed
    val wide = catalog(
      (Seq("2019-04-02-01", "2019-04-02-00") ++
        (0 to 23).map(h => f"2019-04-01-$h%02d") ++
        (20 to 23).map(h => f"2019-03-31-$h%02d")) // straddle day tail
        .map(h => s"error/postgresql.log.$h"): _*)
    val got = LogCatalog.selectLogFiles(wide, "2019-04-02-02", 48)
      .as[String].collect()
    assert(got.length === 30) // 2 + 24 + 4 qualifying closed files
    assert(got.head === "error/postgresql.log.2019-04-02-01")
    assert(got.last === "error/postgresql.log.2019-03-31-20")
  }

  test("planner plan compiles to TakeOrderedAndProject (no global sort)") {
    val plan = LogCatalog.selectLogFiles(fixture, ref, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}
