package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier-B report aggregates (SURVEY §2.4 G4-G8, §2.5 W2-W3) — the native
  * re-implementation of the analytics the reference outsources to pgbadger
  * (/root/reference/rds_pgbadger.py:51-63).
  *
  * Scale posture: every aggregate here is a hash aggregate with automatic
  * partial (map-side) combine, shuffling only the grouping keys — hour
  * buckets, severity levels, normalized query classes — whose cardinality
  * is tiny relative to input rows, so reduce-side state stays bounded at
  * 100 TB. Windows partition by low-cardinality keys (event_type / hour)
  * and never use a global unpartitioned ordering except behind a `limit`
  * (which Catalyst plans as TakeOrderedAndProject).
  *
  * Determinism for the DuckDB oracle (SURVEY §7.3.1/4): double sums go
  * through `decimal(18,2)` so partial-aggregation order cannot change the
  * result; averages are exact decimal sums divided by counts; group keys
  * are strings (hours via date_format) to dodge timestamp-precision skew.
  */
object Reports {

  /** Exact, order-insensitive sum of a 2-decimal double column. */
  def decSum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  private def hourStr(c: Column): Column =
    date_format(date_trunc("hour", c), "yyyy-MM-dd HH:00:00")

  /** G6: event-class tallies (severity levels ← event_type). */
  def levelCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("level"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("level"))

  /** G7: hourly activity histogram — counts, exact value sum, distinct users. */
  def hourlyHistogram(events: DataFrame): DataFrame =
    events.groupBy(hourStr(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        decSum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"))

  /** G4: per-normalized-query-class duration stats over parsed log lines.
    *
    * On an unmaterialized parse (the registry's
    * [[LogLines.parsedFromEvents]] path) this relies on
    * [[LogLines.parseLines]]' CollectMetrics barrier: without it, this
    * isNotNull filter is pushed below the parse projection with the alias
    * inlined — re-running the ENTIRE log-line parse a second time per row
    * just to test one field. The report path reads a materialized cut
    * ([[graft.Graft.reportSections]]), where the barrier plays no part.
    */
  def queryStats(parsed: DataFrame): DataFrame =
    parsed.filter(col("duration_ms").isNotNull)
      .select(LogLines.normalizeQuery(col("query")).as("query_norm"),
        col("duration_ms"))
      .groupBy(col("query_norm"))
      .agg(count(lit(1)).as("n_calls"),
        min(col("duration_ms")).as("min_ms"),
        max(col("duration_ms")).as("max_ms"),
        decSum(col("duration_ms")).as("total_ms"),
        (decSum(col("duration_ms")) / count(lit(1))).as("avg_ms"))
      .orderBy(col("query_norm"))

  /** G5: distinct-entity counts per severity class (exact). */
  def distinctEntities(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(hourStr(col("ts"))).as("n_hours"))
      .orderBy(col("event_type"))

  /** G5 at scale: HLL++ approximate distincts (rows-only check — the
    * sketch is engine-specific by nature).
    */
  def approxDistinctEntities(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy(col("event_type"))

  /** G8: duration percentiles per class — exact `percentile` so the DuckDB
    * `quantile_cont` oracle matches (both linear-interpolate); rounded to
    * pin the last ulp. `percentile_approx` is the 100 TB path (rows-only).
    */
  def percentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy(col("event_type"))

  def approxPercentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(expr("percentile_approx(value, array(0.5, 0.9, 0.99), 10000)")
        .as("pcts"))
      // Scalar columns, not an array: the downstream comparator (and most
      // report sinks) can't hash array cells.
      .select(col("event_type"),
        col("pcts").getItem(0).as("p50"),
        col("pcts").getItem(1).as("p90"),
        col("pcts").getItem(2).as("p99"))
      .orderBy(col("event_type"))

  /** As-of join: each `leftType` event matched to the user's latest
    * `rightType` event at-or-before it (ties at equal ts count; among
    * equal-ts right rows the highest event_id wins).
    *
    * Scale shape: the naive formulation is a per-row range scan (a
    * non-equi join that Catalyst can only plan as a broadcast/cartesian
    * nested loop). This instead tags both sides, unions them, and
    * carries the last right row forward with one window over
    * (user, ts, side, id) — ONE hash shuffle on user_id, linear scan per
    * partition, no pair blowup at any scale.
    */
  def asofJoin(events: DataFrame, leftType: String,
               rightType: String): DataFrame =
    asofJoinImpl(events, leftType, rightType, forward = false)

  /** Shared as-of machinery for both directions. Right rows get the side
    * value that sorts them on the CORRECT side of an equal-ts left row
    * (before it backward, after it forward), so exactly-simultaneous
    * right events always count; among equal-ts right rows the frame
    * direction picks max id backward / min id forward. asc_nulls_last
    * pins the engine-dependent default (Spark ASC is NULLS FIRST,
    * DuckDB's is NULLS LAST) so a null ts cannot reorder the carry
    * between engines; the oracles say NULLS LAST too.
    */
  private def asofJoinImpl(events: DataFrame, leftType: String,
                           rightType: String, forward: Boolean): DataFrame = {
    val rightSide = if (forward) 1 else 0
    val tagged = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === rightType, rightSide)
          .otherwise(1 - rightSide).as("side"))
    // BOTH directions run over the incremental [unboundedPreceding,
    // currentRow] frame; forward is expressed as a backward carry over
    // the REVERSED sort. A [currentRow, unboundedFollowing] frame looks
    // symmetric but Spark's UnboundedFollowingWindowFunctionFrame
    // re-evaluates the aggregate from scratch for EVERY row — O(n²) per
    // user partition (measured: 31 s vs the backward join's 3 s at 50×
    // sf0.1, diverging as users' histories grow). Reversing the order
    // keeps the O(n) running-frame processor and the exact semantics:
    // desc_nulls_first mirrors asc_nulls_last (null-ts right rows sort
    // into the frame of every real row yet lose to any real match, and
    // carry only when nothing real follows); side desc keeps equal-ts
    // right rows inside the left row's frame; event_id desc makes the
    // last-seen equal-ts right row the MINIMUM id, the forward tie rule.
    val ordered = Window.partitionBy(col("user_id")).orderBy(
      if (forward) col("ts").desc_nulls_first else col("ts").asc_nulls_last,
      if (forward) col("side").desc else col("side").asc,
      if (forward) col("event_id").desc else col("event_id").asc)
    val w = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carry(c: Column): Column =
      last(when(col("side") === rightSide, c), ignoreNulls = true).over(w)
    tagged
      .withColumn("asof_id", carry(col("event_id")))
      .withColumn("asof_ts", carry(col("ts")))
      .filter(col("side") === 1 - rightSide)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("asof_id"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts_str"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Forward as-of join: each `leftType` event matched to the user's
    * EARLIEST `rightType` event at-or-after it (ties at equal ts count;
    * among equal-ts right rows the lowest event_id wins) — the
    * "next purchase after this click" direction. Still exactly one hash
    * shuffle on user_id.
    */
  def asofJoinForward(events: DataFrame, leftType: String,
                      rightType: String): DataFrame =
    asofJoinImpl(events, leftType, rightType, forward = true)

  /** Click attribution (the batch form of a stream-stream interval
    * join): every click within
    * `windowMinutes` before each purchase by the same user. Equi key on
    * user_id keeps the plan a hash/sort-merge join with a range residual
    * — never a nested loop; per-user time bands bound the pair count.
    */
  def clickAttribution(events: DataFrame, windowMinutes: Int): DataFrame = {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"interval $windowMinutes minutes"))
      .select(col("user_id"), col("purchase_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_ts_str"),
        col("click_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts_str"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Funnel DROP-OFF — [[clickAttribution]]'s anti form (the TPC-H
    * Q21/Q22 NOT-EXISTS shape on the event stream): clicks with NO
    * purchase by the same user inside the forward attribution window.
    * A LEFT ANTI on the user key with the range residual in the join
    * condition; the purchase side is filtered before the join, so at
    * any scale it is the small side (broadcastable by stats) and the
    * click stream never shuffles twice.
    */
  def unattributedClicks(events: DataFrame, windowMinutes: Int): DataFrame = {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    c.join(p, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"interval $windowMinutes minutes"),
      "left_anti")
      .select(col("user_id"), col("click_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("click_ts_str"))
      .orderBy(col("click_id"))
  }

  /** Retention cohort matrix — the canonical product-analytics rollup
    * over the event stream: users grouped by first-seen week (cohort),
    * counted as retained in each subsequent week they are active.
    * Output one row per (cohort_week, week_offset) with the distinct
    * active-user count; offset 0 is the cohort's size by construction
    * (every user is active in their first-seen week).
    *
    * Scale shape: first-seen is a window `min(ts)` over user_id — ONE
    * exchange on the user key, no self-join back (the groupBy+join
    * formulation shuffles the stream twice for a column the
    * window-carrying row already has). The (cohort, offset, user)
    * distinct then re-shuffles only a 3-column projection, and the
    * final count is map-side combinable. Weeks truncate to Monday in
    * both engines (Spark `date_trunc('week')` ≡ DuckDB); the offset is
    * an exact integer because truncated dates differ by multiples of
    * 7 days.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("ts"),
        to_date(date_trunc("week", min(col("ts")).over(w)))
          .as("cohort_week"))
      .select(col("user_id"), col("cohort_week"),
        (datediff(to_date(date_trunc("week", col("ts"))),
          col("cohort_week")) / 7).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Banded (range) join: event values bucketed into a tiny tier table
    * on [lo, hi) intervals. A non-equi join is a nested loop in Spark —
    * correct ONLY because the tier side is broadcast and ~constant-sized;
    * the stream side never shuffles (PlanSpec asserts the
    * BroadcastNestedLoopJoin). For a LARGE range dim, pre-bucket both
    * sides to convert to an equi join instead.
    */
  val ValueTiers: Seq[(String, Double, Double)] = Seq(
    ("t0_low", 0.0, 25.0), ("t1_mid", 25.0, 50.0),
    ("t2_high", 50.0, 75.0), ("t3_top", 75.0, 1e9))

  def valueTierJoin(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val tiers = ValueTiers.toDF("tier", "lo", "hi")
    // left join + residual bucket: a value outside every [lo, hi) (or
    // NULL) must surface as 'z_unbucketed', never silently vanish from
    // the accounting
    events.join(broadcast(tiers),
        col("value") >= col("lo") && col("value") < col("hi"), "left_outer")
      .groupBy(coalesce(col("tier"), lit("z_unbucketed")).as("tier"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("tier"))
  }

  /** G6 cross-tab: severity × day via GROUPING SETS (report subtotal rows). */
  def severityDayCube(events: DataFrame): DataFrame = {
    val day = date_format(col("ts"), "yyyy-MM-dd")
    events.select(col("event_type"), day.as("day"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
          Seq(col("day")), Seq()),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"), col("n"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W2: top-N slowest "queries" (highest value) per class, ranked.
    * Per-partition top-K via window row_number — each class sorts locally
    * after one hash partition shuffle; no global sort.
    */
  def topSlowestPerClass(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events.select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("event_type"), col("rnk"))
  }

  /** W3: 4-hour moving average of hourly event counts (report trend line). */
  def rollingHourlyAvg(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(hourStr(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("hour")).rowsBetween(-3, 0)
    hourly.withColumn("moving_avg",
        round(avg(col("n")).over(w), 6))
      .orderBy(col("hour"))
  }

  /** Gap-based sessionization — pgbadger's sessions/connections view over
    * raw events: a new session starts when a user's gap from their
    * previous event exceeds `gapMinutes`. Classic lag → flag → running
    * cumulative-sum session id; one shuffle on user_id, windows sort
    * within partition only.
    */
  /** Per-event session labeling — the ONE definition of the gap-based
    * session boundary, shared by [[sessionize]], [[sessionStats]] (via
    * sessionize) and [[sessionFunnel]] so the three can never disagree
    * on where a session starts. One exchange on the user key; both
    * window passes (lag + running sum) ride the same sort.
    */
  private def sessionLabeled(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    // microsecond-exact gap math (unix_micros ≡ DuckDB epoch_us) so the
    // boundary decision can't diverge on sub-second truncation
    val us = unix_micros(col("ts"))
    val prev = lag(us, 1).over(byUser)
    val newSession = when(prev.isNull, 1)
      .when(us - prev > gapMinutes * 60L * 1000000L, 1)
      .otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_seq", sum(col("new_s"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame =
    sessionLabeled(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(1000000L)).cast("long").as("duration_sec"),
        decSum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))

  /** Ordered conversion funnel WITHIN sessions — did this session see
    * view → click → purchase in that order: step k counts only when an
    * event of its type occurs AT OR AFTER the time step k−1 was first
    * reached (t₁ = first view; t₂ = first click ≥ t₁; t₃ = first
    * purchase ≥ t₂). Session boundaries come from [[sessionLabeled]]
    * VERBATIM, so the funnel can never disagree with b15/b16 about
    * what a session is. Output: one row per step with sessions
    * reached and the conversion rate from the previous step (step 1
    * converts from all sessions).
    *
    * Scale shape: the three step times are conditional window mins
    * over the SAME (user, session) partition — Catalyst reuses one
    * exchange+sort for all three passes (the t₂/t₃ conditions read
    * the previous pass's column, so they can't fold into one window
    * projection, but they add no shuffle). The per-session rollup is
    * map-side combinable; everything after is a 1-row aggregate
    * exploded to 3 rows.
    */
  def sessionFunnel(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
    val us = unix_micros(col("ts"))
    val per = sessionLabeled(events, gapMinutes)
      .withColumn("t1",
        min(when(col("event_type") === "view", us)).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && us >= col("t1"), us))
          .over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && us >= col("t2"), us))
          .over(w))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
    per.agg(count(lit(1)).as("n0"), count(col("t1")).as("s1"),
        count(col("t2")).as("s2"), count(col("t3")).as("s3"))
      .select(explode(array(
        struct(lit(1).as("step_index"), lit("view").as("step"),
          col("s1").as("n_sessions"), col("n0").as("prev")),
        struct(lit(2).as("step_index"), lit("click").as("step"),
          col("s2").as("n_sessions"), col("s1").as("prev")),
        struct(lit(3).as("step_index"), lit("purchase").as("step"),
          col("s3").as("n_sessions"), col("s2").as("prev"))))
        .as("r"))
      .select(col("r.step_index").as("step_index"), col("r.step").as("step"),
        col("r.n_sessions").as("n_sessions"),
        when(col("r.prev") === 0, lit(null))
          .otherwise(round(col("r.n_sessions").cast("double") /
            col("r.prev"), 6)).as("conv_rate"))
      .orderBy(col("step_index"))
  }

  /** Per-user session stats roll-up (the report section shape). */
  def sessionStats(events: DataFrame, gapMinutes: Int): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("duration_sec")).as("max_session_sec"))
      .orderBy(col("user_id"))

  /** Error-rate per hour: conditional counts then a deterministic division. */
  def errorRateHourly(events: DataFrame): DataFrame =
    events.groupBy(hourStr(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .withColumn("error_rate",
        round(col("n_errors").cast("double") / col("n"), 6))
      .orderBy(col("hour"))
}
