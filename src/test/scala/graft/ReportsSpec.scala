package graft

import java.sql.Timestamp

import graft.ops.Reports

/** Hand-computed expectations for the report aggregates (SURVEY §5.2.2)
  * on tiny literal frames.
  */
class ReportsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val ev = Seq(
    (1L, ts("2024-01-01 10:05:00"), 100L, "click", 10.0),
    (2L, ts("2024-01-01 10:15:00"), 100L, "error", 20.0),
    (3L, ts("2024-01-01 11:05:00"), 200L, "click", 30.0),
    (4L, ts("2024-01-01 11:06:00"), 200L, "click", 40.0),
    (5L, ts("2024-01-02 09:00:00"), 100L, "error", 50.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("hourlyHistogram: counts, exact sums, distinct users per hour") {
    val got = Reports.hourlyHistogram(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("2024-01-01 10:00:00", 2L, 30.0, 1L),
      ("2024-01-01 11:00:00", 2L, 70.0, 1L),
      ("2024-01-02 09:00:00", 1L, 50.0, 1L)))
  }

  test("severityDayCube: subtotal rows sum correctly") {
    val rows = Reports.severityDayCube(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows(("ALL", "ALL")) === 5L)
    assert(rows(("click", "ALL")) === 3L)
    assert(rows(("ALL", "2024-01-01")) === 4L)
    assert(rows(("error", "2024-01-02")) === 1L)
  }

  test("errorRateHourly: rates are n_errors/n") {
    val got = Reports.errorRateHourly(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("2024-01-01 10:00:00") === 0.5)
    assert(got("2024-01-01 11:00:00") === 0.0)
    assert(got("2024-01-02 09:00:00") === 1.0)
  }

  test("rollingHourlyAvg: trailing-4 window means") {
    val got = Reports.rollingHourlyAvg(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // hours: (10h,2) (11h,2) (09h next day,1) ordered by hour string
    assert(got.toSeq === Seq(
      ("2024-01-01 10:00:00", 2L, 2.0),
      ("2024-01-01 11:00:00", 2L, 2.0),
      ("2024-01-02 09:00:00", 1L, 1.666667))) // round(5/3, 6)
  }

  test("sessionize: hand-built sessions with exact boundaries") {
    // user 100: 10:05, 10:15 (same session), gap > 30min → 2024-01-02 new
    val got = Reports.sessionize(ev, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // (user, session_seq, n_events, duration_sec)
    assert(got.toSeq === Seq(
      (100L, 1L, 2L, 600L), (100L, 2L, 1L, 0L),
      (200L, 1L, 2L, 60L)))
  }

  test("sessionize: exactly-at-gap boundary stays in the same session") {
    val e2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, "click", 1.0), // exactly 30 min
      (3L, ts("2024-01-01 11:00:01"), 1L, "click", 1.0)  // 30m01s → new
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Reports.sessionize(e2, 30).collect().map(_.getLong(1))
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("asofJoin: latest prior-or-equal click; null when none precedes") {
    val e2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0), // no prior click
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),    // equal-ts: max id wins
      (4L, ts("2024-01-01 10:10:00"), 1L, "purchase", 1.0), // → click 3
      (5L, ts("2024-01-01 10:20:00"), 1L, "click", 1.0),
      (6L, ts("2024-01-01 10:20:00"), 1L, "purchase", 1.0), // same-ts click counts
      (7L, ts("2024-01-01 09:00:00"), 2L, "view", 1.0)      // other type dropped
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Reports.asofJoin(e2, "purchase", "click").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq === Seq((1L, -1L), (4L, 3L), (6L, 5L)))
  }

  test("asofJoinForward: earliest at-or-after click; null when none follows") {
    val e2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0), // → click 2 (min id at 10:05)
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (3L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (4L, ts("2024-01-01 10:10:00"), 1L, "purchase", 1.0), // → click 5
      (5L, ts("2024-01-01 10:10:00"), 1L, "click", 1.0),    // same-ts counts
      (6L, ts("2024-01-01 10:20:00"), 1L, "purchase", 1.0), // no later click
      (7L, ts("2024-01-01 11:00:00"), 2L, "view", 1.0)      // other type dropped
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Reports.asofJoinForward(e2, "purchase", "click").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq === Seq((1L, 2L), (4L, 5L), (6L, -1L)))
  }

  test("valueTierJoin: every event lands in exactly one tier") {
    val got = Reports.valueTierJoin(ev).collect()
    assert(got.map(_.getLong(1)).sum === ev.count())
  }

  test("valueTierJoin: out-of-range values surface as z_unbucketed") {
    val e2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", -5.0), // below every tier
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 10.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Reports.valueTierJoin(e2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("t0_low" -> 1L, "z_unbucketed" -> 1L))
  }

  test("unattributedClicks: a purchase inside the forward window " +
    "suppresses the click; outside-window and other-user purchases " +
    "do not") {
    val funnel = Seq(
      // user 1: click at 10:00, purchase 10:20 (inside 30m) — suppressed
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:20:00"), 1L, "purchase", 9.0),
      // user 2: click at 10:00, purchase 10:45 (outside 30m) — kept
      (3L, ts("2024-01-01 10:00:00"), 2L, "click", 1.0),
      (4L, ts("2024-01-01 10:45:00"), 2L, "purchase", 9.0),
      // user 3: click; user 4's purchase 1 min later must not attribute
      (5L, ts("2024-01-01 10:00:00"), 3L, "click", 1.0),
      (6L, ts("2024-01-01 10:01:00"), 4L, "purchase", 9.0),
      // user 5: purchase BEFORE the click — forward window only, kept
      (7L, ts("2024-01-01 09:50:00"), 5L, "purchase", 9.0),
      (8L, ts("2024-01-01 10:00:00"), 5L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Reports.unattributedClicks(funnel, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((2L, 3L), (3L, 5L), (5L, 8L)))
  }

  test("topSlowestPerClass: rank and tiebreak by event_id") {
    val got = Reports.topSlowestPerClass(ev, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq(
      ("click", 4L, 1), ("click", 3L, 2),
      ("error", 5L, 1), ("error", 2L, 2)))
  }

  test("sessionFunnel: steps count only IN ORDER within a session — a " +
    "click before the first view doesn't convert, a purchase without a " +
    "click doesn't convert, same-timestamp steps do") {
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // A (user 1): full ordered funnel
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 10:05:00"), "click"),
      (3L, 1L, ts("2024-01-01 10:10:00"), "purchase"),
      // E (user 1, >30 min gap → second session): view only
      (4L, 1L, ts("2024-01-01 12:00:00"), "view"),
      // B (user 2): click BEFORE the first view — step 2 must not count
      (5L, 2L, ts("2024-01-01 10:00:00"), "click"),
      (6L, 2L, ts("2024-01-01 10:05:00"), "view"),
      // C (user 3): purchase after view but NO click — step 3 must not
      (7L, 3L, ts("2024-01-01 10:00:00"), "view"),
      (8L, 3L, ts("2024-01-01 10:10:00"), "purchase"),
      // D (user 4): early purchase, then view + click — stops at click
      (9L, 4L, ts("2024-01-01 09:00:00"), "purchase"),
      (10L, 4L, ts("2024-01-01 09:20:00"), "view"),
      (11L, 4L, ts("2024-01-01 09:30:00"), "click"),
      // F (user 5): view and click at the SAME timestamp — >= counts it
      (12L, 5L, ts("2024-01-01 11:00:00"), "view"),
      (13L, 5L, ts("2024-01-01 11:00:00"), "click"),
      (14L, 5L, ts("2024-01-01 11:01:00"), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Reports.sessionFunnel(ev, 30).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // 6 sessions, all with a view; A, D, F convert to click; A, F to buy
    assert(got.toSeq === Seq(
      (1, "view", 6L, 1.0), (2, "click", 3L, 0.5),
      (3, "purchase", 2L, 0.666667)))
  }

  test("retentionCohorts: cohort = Monday-truncated first-seen week; " +
    "offsets are exact; a user active twice in one week counts once") {
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday
    val ev = Seq(
      // user 1: first seen week of Jan 1, active again week of Jan 8
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-10 09:00:00")),
      // user 2: first seen week of Jan 8 (Tue), active week of Jan 22
      (2L, ts("2024-01-09 08:00:00")),
      (2L, ts("2024-01-24 23:00:00")),
      // user 3: two events in the SAME first week → one (cohort, 0) row
      (3L, ts("2024-01-03 12:00:00")),
      (3L, ts("2024-01-05 12:00:00"))
    ).toDF("user_id", "ts")
    val got = Reports.retentionCohorts(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0L, 2L), // users 1 and 3
      ("2024-01-01", 1L, 1L), // user 1 retained in week 2
      ("2024-01-08", 0L, 1L), // user 2's cohort
      ("2024-01-08", 2L, 1L))) // user 2 retained two weeks later
  }
}
