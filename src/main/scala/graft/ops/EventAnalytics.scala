package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators over `events` — the ad-hoc consultas the
  * reference's "data lake para consultas" exists to serve, in their two
  * canonical product-analytics shapes:
  *
  *  - funnel: users progressing view → click → purchase in strict
  *    timestamp order. Each stage is one filtered aggregation joined to
  *    the previous stage's first-completion time — no window over the full
  *    event history, so the per-stage state is one row per user, and the
  *    stage joins are user_id-hashed shuffles that AQE collapses to
  *    broadcasts as the funnel narrows.
  *  - retention: weekly cohort matrix (cohort = week of first event,
  *    offset = weeks since) — two aggregations and a join, all on user_id.
  *
  * Both are pure timestamp arithmetic at microsecond precision: Spark
  * floors the parquet nanos to micros at load
  * ([[graft.Tables.events]]), and the funnel oracle compares on
  * epoch_us so the same floor applies no matter how the DuckDB build
  * reads TIMESTAMP_NS. (Retention is week-grained — sub-microsecond
  * detail cannot move a week boundary.)
  */
object EventAnalytics extends QueryModule {

  /** Strict-order funnel view → click → purchase: a stage counts a user
    * only if the event happens STRICTLY AFTER the user's first event of
    * the previous stage. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
      .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
      .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
      .select(col("stage"), col("n_users"))
      .orderBy(col("stage"))
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; a cell counts the cohort's users active in week
    * cohort + offset. Weeks are Monday-aligned (date_trunc 'week' in both
    * engines), so offsets are exact multiples of 7 days. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val first = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
    val active = e.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
    first.join(active, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** Cohort lifetime value: for each signup cohort (week of first activity,
    * the [[qRetention]] convention) and week offset, the number of paying
    * users, that week's purchase revenue, and the CUMULATIVE revenue per
    * cohort member — the monetization curve next to retention's activity
    * curve. Revenue accumulates in exact BIGINT cents; the per-member
    * division happens once, at output, on a < 2^53 integer — bit-identical
    * doubles in both engines.
    *
    * Scale shape: two map-side-combinable aggregations over events (first
    * touch per user, revenue per (cohort, offset)) plus one user-keyed
    * join; the cumulative window runs over the (cohort, offset) table,
    * bounded by cohorts × calendar weeks, never event volume, and the tiny
    * cohort-size table joins broadcast. */
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val first = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    val weekly = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("rc"))
      .join(first, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_payers"),
        sum(col("rc")).as("rev_c"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_c", sum(col("rev_c")).over(cum))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("week_offset"), col("n_payers"),
        (col("rev_c").cast("double") / 100.0).as("week_revenue"),
        expr("CAST(cum_c AS DOUBLE) / CAST(cohort_size * 100 AS DOUBLE)")
          .as("ltv_per_member"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** Gaps-and-islands sessionization: a user's events split into sessions
    * at every silence > 30 minutes; each session reports its bounds and
    * event count. Two windows and one aggregation, all partitioned by
    * user_id — a single shuffle, after which boundary detection, session
    * numbering, and the rollup are partition-local. This is the batch twin
    * of [[graft.streaming.Streams]]' session_window aggregation, expressed
    * relationally so the oracle can replay it. Ordering inside each window
    * tie-breaks on event_id (same-microsecond events at a session boundary
    * would otherwise be engine-order-dependent); timestamps compare on
    * epoch_us for the same reason as the funnel oracle. The trailing
    * global orderBy exists ONLY for the oracle's deterministic hash
    * compare — a production caller drops it (sorting belongs to the
    * consumer), at which point the query is the single user_id exchange. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionize(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")),
      keyCol = "user_id", timeCol = "tus", tieCol = "event_id",
      gap = 30L * 60 * 1000000)

  /** Library form of gaps-and-islands sessionization over any keyed event
    * table: rows sort per key on `timeCol` (ties broken on `tieCol`), a new
    * session opens wherever the gap exceeds `gap` (same unit as `timeCol`),
    * and each session reports bounds and size. One shuffle on `keyCol`;
    * everything after the partitioning is partition-local. */
  def sessionize(events: DataFrame, keyCol: String, timeCol: String,
      tieCol: String, gap: Long): DataFrame =
    labelSessions(events, keyCol, timeCol, tieCol, gap)
      .groupBy(col(keyCol), col("sess_id"))
      .agg(min(col(timeCol)).as("start_us"), max(col(timeCol)).as("end_us"),
        count(lit(1)).as("n_events"))

  /** The per-event half of sessionization: every input row annotated with
    * its `sess_id` (1-based per key). The single place the boundary rule
    * (silence STRICTLY GREATER than `gap` opens a session) lives —
    * [[sessionize]] and [[qEventPath]] both build on it. */
  def labelSessions(events: DataFrame, keyCol: String, timeCol: String,
      tieCol: String, gap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    events
      .withColumn("_new_sess",
        when(col(timeCol) - lag(col(timeCol), 1).over(byTime) > gap, 1)
          .when(lag(col(timeCol), 1).over(byTime).isNull, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("_new_sess")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_new_sess")
  }

  /** Time-series resample + gap-fill: each user's daily event count and
    * value sum on a dense calendar spine from their first to last active
    * day — days with no events appear with n_events = 0 and the value
    * carried forward from the last active day (the resample→ffill idiom).
    * The spine is generated relationally (per-user `sequence` + explode —
    * O(span) rows, no driver loop); the fill is one `last(_, ignoreNulls)`
    * running window. Everything partitions by user_id: one shuffle for the
    * daily rollup, and the spine join is a user-partitioned left join AQE
    * plans as broadcast when the daily side is small. Value sums are exact
    * BIGINT cents, converted to double only at output. */
  def qGapfill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n_day"), sum(col("vc")).as("vc_day"))
    gapfillDaily(daily, keyCol = "user_id", dateCol = "d",
      countCol = "n_day", valueCol = "vc_day")
  }

  /** Library form of the calendar densify + forward fill over any
    * (key, date, count, value) daily rollup: emits one row per key per day
    * between that key's first and last active date, zero-count on gap days,
    * value carried from the last active day. */
  def gapfillDaily(daily: DataFrame, keyCol: String, dateCol: String,
      countCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = daily.groupBy(col(keyCol))
      .agg(min(col(dateCol)).as("_d0"), max(col(dateCol)).as("_d1"))
      .select(col(keyCol),
        explode(expr("sequence(_d0, _d1, interval 1 day)")).as(dateCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(keyCol, dateCol), "left")
      .select(col(keyCol), col(dateCol),
        coalesce(col(countCol), lit(0L)).as("n_events"),
        (last(col(valueCol), ignoreNulls = true).over(w).cast("double") / 100.0)
          .as("filled_sum"))
  }

  /** Linear interpolation of each user's sparse daily value series — the
    * missing-data repair a feature pipeline applies before modeling, and
    * the linear sibling of [[qGapfill]]'s forward fill: the same per-user
    * calendar spine, but a gap day takes the distance-weighted average of
    * the two enclosing ACTIVE days, (vp·(dn−d) + vn·(d−dp)) / (dn−dp),
    * instead of carrying vp forward. Gap days always have both neighbors
    * because the spine runs from each user's first to last active day.
    *
    * Determinism: daily sums are exact BIGINT cents and day distances
    * exact integers, so the one final division of two < 2^53 integers
    * produces bit-identical doubles in both engines. Scale shape: one
    * map-side-combinable shuffle to the per-(user, day) rollup; the spine
    * explode and all four prev/next lookups partition by user_id — high
    * cardinality, and each partition is bounded by the CALENDAR SPAN, not
    * event volume (100× more events grows the rollup input, which partial
    * aggregation absorbs before the shuffle, never the window input). The
    * four lookups share one partitioning and ordering, so they run in a
    * single sort, and the ascending-order following frame needs no second
    * sort (WindowExec evaluates both frame directions in one pass). */
  def qInterpolate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n_day"), sum(col("vc")).as("vc_day"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("_d0"), max(col("d")).as("_d1"))
      .select(col("user_id"),
        explode(expr("sequence(_d0, _d1, interval 1 day)")).as("d"))
    val base = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "d"), "left")
      // all four lookups in ONE select so the two frames land in as few
      // Window operators as CollapseWindow allows over the single sort
      // (successive withColumns interleave Projects that block the merge)
      .select(col("user_id"), col("d"), col("n_day"), col("vc_day"),
        last(col("vc_day"), ignoreNulls = true).over(wPrev).as("vp"),
        last(when(col("vc_day").isNotNull, col("d")), ignoreNulls = true)
          .over(wPrev).as("dp"),
        first(col("vc_day"), ignoreNulls = true).over(wNext).as("vn"),
        first(when(col("vc_day").isNotNull, col("d")), ignoreNulls = true)
          .over(wNext).as("dn"))
      .select(col("user_id"), col("d"),
        coalesce(col("n_day"), lit(0L)).as("n_events"),
        when(col("vc_day").isNotNull, col("vc_day").cast("double") / 100.0)
          .otherwise(expr(
            "CAST(vp * datediff(dn, d) + vn * datediff(d, dp) AS DOUBLE)" +
              " / CAST(datediff(dn, dp) * 100 AS DOUBLE)")).as("value"),
        col("vc_day").isNull.cast("int").as("interp"))
  }

  /** Path analysis: the most common within-session event-type journeys
    * (first 8 steps), with session count and distinct-user reach — the
    * Sankey/flow primitive. Sessions come from the same gaps-and-islands
    * windows as [[qSessionize]]; the ORDERED aggregation Spark lacks as a
    * built-in (STRING_AGG ... ORDER BY) is expressed exactly as
    * `array_sort(collect_list(struct(time, tie, type)))` — the struct sort
    * carries the (tus, event_id) total order, so the joined path is
    * deterministic in both engines. Per-session arrays are bounded by
    * session length; the path table then aggregates corpus-wide with an
    * ordinary hash shuffle. */
  def qEventPath(spark: SparkSession, dir: String): DataFrame = {
    val withSess = labelSessions(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
      keyCol = "user_id", timeCol = "tus", tieCol = "event_id",
      gap = 30L * 60 * 1000000)
    withSess.groupBy(col("user_id"), col("sess_id"))
      .agg(expr(
        """array_join(
          |  slice(transform(array_sort(collect_list(struct(tus, event_id, event_type))),
          |    x -> x.event_type), 1, 8), '>')""".stripMargin).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Slowly-changing-dimension type-2 build: collapse each user's event
    * stream into effective-dated versions of the tracked attribute
    * (event_type), one row per CHANGE — valid_from/valid_to interval,
    * version number, is_current flag. Change-islands (lag ≠ current marks a
    * new version, running sum numbers it) rather than time-islands
    * ([[qSessionize]]'s gap rule). This is how a mutable dimension becomes
    * an append-only history table — the warehouse-side dual of the
    * reference's replace-mode load, which overwrites instead of
    * versioning. Two windows + one aggregation, all on the user_id
    * partition key: one shuffle. */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(spark, dir)
      .withColumn("changed",
        when(lag(col("event_type"), 1).over(wSeq).isNull
          || lag(col("event_type"), 1).over(wSeq) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("changed")).over(wSeq))
      .groupBy(col("user_id"), col("version"))
      .agg(first(col("event_type")).as("attr"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time snapshot from the SCD2 history: every user's state as
    * of a fixed moment — the version whose [valid_from, valid_to) interval
    * covers the probe instant. This is the feature-store "as-of" read that
    * makes training data leakage-free: never join tomorrow's attribute
    * onto today's example. Implemented as filter(valid_from <= t) + max
    * version per user (one window over the history, which is already tiny
    * relative to the events), not a range join. */
  def qScd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    val probe = lit("2024-01-15 00:00:00").cast("timestamp")
    val w = Window.partitionBy(col("user_id")).orderBy(col("version").desc)
    qScd2(spark, dir)
      .filter(col("valid_from") <= probe)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("attr").as("state_at_probe"),
        col("version"), col("valid_from"))
      .orderBy(col("user_id"))
  }

  /** Chained throttle-dedup: keep an event iff more than 10 minutes have
    * passed since the last KEPT event of the same user — the batch twin of
    * streaming dropDuplicatesWithinWatermark's state rule, and the classic
    * "capacitor" recurrence NO window function can express (each decision
    * depends on the previous DECISION, not the previous row; a lag-based
    * gap rule over raw timestamps keeps a different set when events arrive
    * in bursts). The typed-API route: groupByKey + flatMapGroups, one
    * in-memory sort + linear scan per user. Per-group memory is bounded by
    * the user's event count — fine for interactive keys; an unbounded
    * stream uses the watermarked streaming path
    * ([[graft.streaming.Streams]]). The oracle replays the same recurrence
    * as a DuckDB recursive CTE, which is what makes a typed-API operator
    * hash-verifiable at all. */
  def qThrottleDedup(spark: SparkSession, dir: String): DataFrame =
    throttle(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")),
      keyCol = "user_id", timeCol = "tus", tieCol = "event_id",
      gap = 10L * 60 * 1000000)

  /** Library form of the chained throttle over any (key, id, time) table:
    * per key, keep a row iff more than `gap` has passed since the last
    * KEPT row (ties broken on `tieCol`). Returns (keyCol, tieCol) of the
    * kept rows. See [[qThrottleDedup]] for the semantics and scale
    * discussion. The three columns are cast to BIGINT internally, so any
    * integral (or integral-string) key/time/tie works; a timestamp column
    * should be pre-converted by the caller (e.g. `unix_micros`) since a
    * raw timestamp→long cast yields seconds and would coarsen the gap
    * arithmetic. */
  def throttle(events: DataFrame, keyCol: String, timeCol: String,
      tieCol: String, gap: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("long"), col(tieCol).cast("long"),
        col(timeCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val sorted = it.toArray.sortBy(e => (e._3, e._2))
        var lastKept = Long.MinValue
        sorted.iterator.flatMap { case (_, tie, t) =>
          if (lastKept == Long.MinValue || t - lastKept > gap) {
            lastKept = t; Iterator.single((key, tie))
          } else Iterator.empty
        }
      }
      .toDF(keyCol, tieCol)
  }

  /** Last-touch marketing attribution: each purchase credits the user's
    * most recent click/view STRICTLY before it, provided that touch is
    * within a 7-day lookback — otherwise the purchase is organic ("none").
    * Reported per channel with exact-cent revenue.
    *
    * The touch lookup is a running `last(..., ignoreNulls)` pair over the
    * per-user event order — the as-of join expressed as one window over
    * ONE shuffle on user_id (high-cardinality key, per-user history
    * bounded: the same scale argument as sessionize; never a self-join of
    * purchases against touches). The two last() columns pick the same row
    * because they null out on exactly the same condition, and the
    * (tus, event_id) order makes the pick deterministic — a same-
    * microsecond touch/purchase tie resolves by event_id in both engines. */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val before = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def touch(c: Column) =
      last(when(col("event_type").isin("click", "view"), c), ignoreNulls = true)
        .over(before)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("lt_tus", touch(col("tus")))
      .withColumn("lt_type", touch(col("event_type")))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt_tus").isNotNull
            && col("tus") - col("lt_tus") <= lit(7L * 24 * 3600 * 1000000L),
          col("lt_type")).otherwise(lit("none")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(expr("CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) / 100.0"), 2)
          .as("revenue"))
      .orderBy(col("channel"))
  }

  /** Time-to-convert: for each user, the lag from their FIRST touch
    * (click/view) to their first purchase at-or-after it, bucketed into
    * operations bands (<1h, 1h–1d, 1d–7d, ≥7d) with per-bucket user counts
    * and mean lag — the conversion-latency histogram next to `q_funnel`'s
    * reach counts and `q_attribution`'s credit assignment.
    *
    * Scale shape: ONE shuffle on the high-cardinality user_id serves both
    * the running-min-touch window and the per-user aggregate (same
    * partitioning, Spark reuses the exchange); the bucket rollup is a
    * ≤4-row aggregate. A purchase strictly before any touch never
    * qualifies (its running touch min is null), and the per-user min of
    * (purchase_tus − first_touch_tus) equals first-qualifying-purchase lag
    * because the subtrahend is constant per user. Mean lag divides integer
    * microsecond sums once at the end. */
  def qConversionLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val upTo = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourUs = 3600L * 1000000L
    val lagged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("ft",
        min(when(col("event_type").isin("click", "view"), col("tus"))).over(upTo))
      .filter(col("event_type") === "purchase" && col("ft").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("tus") - col("ft")).as("lag_us"))
    lagged
      .withColumn("bucket",
        when(col("lag_us") < lit(hourUs), "a_under_1h")
          .when(col("lag_us") < lit(24 * hourUs), "b_1h_to_1d")
          .when(col("lag_us") < lit(7 * 24 * hourUs), "c_1d_to_7d")
          .otherwise("d_over_7d"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
        round(expr(s"CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) / $hourUs"), 3)
          .as("avg_lag_hours"))
      .orderBy(col("bucket"))
  }

  /** Longest consecutive-active-day streak per user, reported as the
    * streak-length census (how many users peak at a 1-day, 2-day, … run) —
    * the engagement metric every product dashboard carries. Islands by the
    * classic day − row_number() trick: consecutive days share a constant
    * difference, so the difference IS the island key — no iterative logic.
    *
    * Scale shape: distinct active days (one (user, day) shuffle with
    * map-side partial distinct), ONE window on the high-cardinality
    * user_id (per-user day counts are bounded by the calendar), then two
    * hash aggregations. Day numbers are exact integer datediffs from the
    * epoch — no timezone arithmetic can shift an island boundary, since
    * the session pins UTC in both engines. */
  def qWinStreak(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("day"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(byUser))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("best_streak"))
    streaks.groupBy(col("best_streak"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("best_streak"))
  }

  /** Session-outcome census (cart abandonment): every 30-minute session
    * classified by which funnel stages it contains — (view, click,
    * purchase) flags — so "sessions that clicked but never purchased" is a
    * row, not a re-run. The session-granular complement of the USER-level
    * [[qFunnel]] (a user can abandon in one session and convert in the
    * next; this query sees both).
    *
    * Scale shape: [[labelSessions]]' single user_id shuffle, one
    * (user, session) aggregation with conditional max flags (partition-
    * local after the window), and a ≤8-row census aggregation. */
  def qCartSessions(spark: SparkSession, dir: String): DataFrame = {
    val labeled = labelSessions(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
      keyCol = "user_id", timeCol = "tus", tieCol = "event_id",
      gap = 30L * 60 * 1000000)
    def flag(t: String) =
      max(when(col("event_type") === t, 1).otherwise(0)).as(s"has_$t")
    labeled.groupBy(col("user_id"), col("sess_id"))
      .agg(flag("view"), flag("click"), flag("purchase"))
      .groupBy(col("has_view"), col("has_click"), col("has_purchase"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("has_view"), col("has_click"), col("has_purchase"))
  }

  /** DAU / MAU / stickiness — the engagement dashboard's headline row:
    * per observation day, distinct users active THAT day (DAU), distinct
    * users active in the trailing 28 days (MAU), and DAU/MAU in ppm.
    *
    * Scale shape: the trailing-window membership is NOT a range join (a
    * nested-loop spine×activity probe evaluates |days|·|activity| pairs) —
    * each (user, active-day) row explodes to the ≤28 observation days it
    * contributes to (bounded map-side fanout, the q_join_interval
    * day-bucketing idiom), then ONE distinct-count aggregation per
    * observation day; observation days outside the data's day spine are
    * dropped by an inner join against the (calendar-bounded, broadcast)
    * day spine. All integer day arithmetic from the epoch. */
  def qActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("day"))
      .distinct()
    val spine = act.select(col("day")).distinct()
    val contrib = act
      .select(col("user_id"), explode(expr("sequence(day, day + 27)")).as("obs_day"))
      .join(broadcast(spine.withColumnRenamed("day", "obs_day")), "obs_day")
    val mau = contrib.groupBy(col("obs_day"))
      .agg(countDistinct(col("user_id")).as("mau"))
    val dau = act.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    dau.join(mau, dau("day") === mau("obs_day"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day")).as("d"),
        col("dau"), col("mau"),
        expr("div(1000000 * dau, mau)").as("stickiness_ppm"))
      .orderBy(col("d"))
  }

  /** Per-(type, day) OHLC bars + exact integer mean — the time-series
    * downsampling rollup (market bars, sensor aggregation, metric
    * pre-aggregation). Open/close are the first/last value by the TOTAL
    * order (ts, event_id) — two row_numbers over one sort — so ties at the
    * same microsecond cannot flip the bar between engines; high/low/n are
    * plain aggregates, and the mean stays exact: per-row micro BIGINT sum,
    * one integer division at the end. Scale shape: the window partitions
    * by (event_type, DAY), so a partition is one day of one type — bounded
    * regardless of corpus size (the chunked-window convention), and the final agg rides the same exchange. */
  def qOhlc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .withColumn("d", to_date(col("ts")))
      .withColumn("micro", floor(col("value") * 1000000 + 0.5).cast("long"))
    val byTime = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("ts"), col("event_id"))
    val byTimeDesc = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(byTime))
      .withColumn("rn_d", row_number().over(byTimeDesc))
      .groupBy(col("event_type"), col("d"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"),
        (sum(col("micro")).cast("long")).as("sum_micro"))
      .withColumn("mean_micro", expr("sum_micro div n"))
      .drop("sum_micro")
      .orderBy(col("event_type"), col("d"))
  }

  /** Time-BOUNDED funnel (ClickHouse windowFunnel semantics): a user
    * converts at stage k only via an ordered chain view < click < purchase
    * whose LAST event falls within W = 4 h of the chain's FIRST — the
    * question "did the ad convert within the session", which the unbounded
    * [[qFunnel]] cannot ask. EXISTS-over-chains folds into two conditional
    * running maxima over ONE per-user sort:
    *   f(row)  = latest prior view ts     → a click c starts a valid
    *             2-chain iff f(c) ≥ ts(c) − W;
    *   g(row)  = max f over prior clicks  → a purchase p completes a
    *             3-chain iff g(p) ≥ ts(p) − W (c ≤ v+W is implied by
    *             v < c < p ≤ v+W, so only the endpoint needs checking —
    *             choosing the LATEST prior view/click maximizes the chain
    *             start, making the greedy maxima exact for EXISTS).
    * All comparisons are exact epoch-micros integers; ties total-ordered
    * by (ts, event_id). Scale: two window passes sharing one (user_id)
    * exchange+sort, per-user partitions — the sessionize shape. */
  def qFunnelWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 4L * 3600 * 1000000 // 4 h in micros
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsm"))
      .withColumn("f", max(when(col("event_type") === "view", col("tsm"))).over(byTime))
      .withColumn("g", max(when(col("event_type") === "click", col("f"))).over(byTime))
    val perUser = e.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
      max(when(col("event_type") === "click" && col("f") >= col("tsm") - W, 1)
        .otherwise(0)).as("s2"),
      max(when(col("event_type") === "purchase" && col("g") >= col("tsm") - W, 1)
        .otherwise(0)).as("s3"))
    perUser.select(
      explode(array(
        struct(lit("1_view").as("stage"), col("s1").as("hit")),
        struct(lit("2_click_4h").as("stage"), col("s2").as("hit")),
        struct(lit("3_purchase_4h").as("stage"), col("s3").as("hit")))).as("x"))
      .groupBy(col("x.stage").as("stage"))
      .agg(sum(col("x.hit")).cast("long").as("n_users"))
      .orderBy(col("stage"))
  }

  /** MATCH_RECOGNIZE-lite sequence-pattern census: encode each user's
    * event history as a path string (one char per event — c/e/p/s/v —
    * ordered by (ts, event_id), the house tie-break) and count users whose
    * path matches each of three behavioral regexes: the strict funnel
    * (view…click…purchase with no intervening purchase), error-then-
    * recovery (an error later followed by a purchase), and bounce (a
    * single event). The regexes use only literal classes/stars, the
    * fragment of the language where Java regex and RE2 agree
    * character-for-character.
    *
    * Scale shape: one per-user sort_array(collect_list) — per-user state
    * bounded by that user's history, the same contract as sessionize —
    * then a 3-row pattern dim CROSS-broadcast over the per-user paths and
    * a map-side-combinable rollup to 3 rows. No corpus-sized window, no
    * driver loop. */
  def qSeqPattern(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .groupBy(col("user_id"))
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(ts, event_id, c))), x -> x.c)"))
        .as("path"))
    val pats = paths.sparkSession.createDataFrame(Seq(
      ("funnel_vcp", "^.*v[^p]*c[^p]*p.*$"),
      ("error_recovery", "^.*e.*p.*$"),
      ("bounce", "^.$"))).toDF("pattern", "re")
    paths.crossJoin(broadcast(pats))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(expr("regexp_like(path, re)"), 1L).otherwise(0L)).as("n_match"))
      .withColumn("match_rate",
        col("n_match").cast("double") / col("n_users").cast("double"))
      .orderBy(col("pattern"))
  }

  /** Shared change-island CTE chain for the two SCD2 oracles (one copy, so
    * the history and its snapshot can never disagree about versioning).
    * `ts` is floored to microseconds FIRST (make_timestamp(epoch_us(ts)))
    * — the parquet column is TIMESTAMP(NANOS) and Spark floors at load
    * (Tables.events), so a raw-nanos oracle would order same-microsecond
    * events by their sub-µs tail and compare the probe instant at nanos
    * where Spark sees a tie. Ends with `grp(user_id, version, attr,
    * valid_from, n_events)`. */
  private val scd2Ctes: String =
    """seq AS (
      |  SELECT user_id, event_id, make_timestamp(epoch_us(ts)) AS ts, event_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN LAG(event_type) OVER w IS NULL
      |                OR LAG(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS changed
      |  FROM seq
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |ver AS (
      |  SELECT user_id, ts, event_type,
      |         CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              AS BIGINT) AS version
      |  FROM chg),
      |grp AS (
      |  SELECT user_id, version, MIN(event_type) AS attr,
      |         MIN(ts) AS valid_from, COUNT(*) AS n_events
      |  FROM ver GROUP BY user_id, version)""".stripMargin

  val registry: Map[String, (Query, String)] = Map(
    "q_seq_pattern" -> (qSeqPattern _,
      """WITH p AS (
        |  SELECT user_id,
        |         STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id),
        |pats AS (
        |  SELECT * FROM (VALUES
        |    ('funnel_vcp', '^.*v[^p]*c[^p]*p.*$'),
        |    ('error_recovery', '^.*e.*p.*$'),
        |    ('bounce', '^.$')) AS t(pattern, re))
        |SELECT pattern, COUNT(*) AS n_users,
        |       CAST(SUM(CASE WHEN REGEXP_MATCHES(path, re) THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |       CAST(SUM(CASE WHEN REGEXP_MATCHES(path, re) THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS match_rate
        |FROM p CROSS JOIN pats
        |GROUP BY pattern ORDER BY pattern""".stripMargin),
    "q_funnel_window" -> (qFunnelWindow _,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tsm
        |  FROM events),
        |wins AS (
        |  SELECT user_id, event_type, event_id, tsm,
        |         MAX(CASE WHEN event_type = 'view' THEN tsm END) OVER
        |           (PARTITION BY user_id ORDER BY tsm, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f
        |  FROM e),
        |wins2 AS (
        |  SELECT user_id, event_type, tsm, f,
        |         MAX(CASE WHEN event_type = 'click' THEN f END) OVER
        |           (PARTITION BY user_id ORDER BY tsm, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS g
        |  FROM wins),
        |per_user AS (
        |  SELECT user_id,
        |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
        |         MAX(CASE WHEN event_type = 'click'
        |                   AND f >= tsm - 14400000000 THEN 1 ELSE 0 END) AS s2,
        |         MAX(CASE WHEN event_type = 'purchase'
        |                   AND g >= tsm - 14400000000 THEN 1 ELSE 0 END) AS s3
        |  FROM wins2 GROUP BY user_id)
        |SELECT stage, CAST(SUM(hit) AS BIGINT) AS n_users FROM (
        |  SELECT '1_view' AS stage, s1 AS hit FROM per_user
        |  UNION ALL SELECT '2_click_4h', s2 FROM per_user
        |  UNION ALL SELECT '3_purchase_4h', s3 FROM per_user)
        |GROUP BY stage ORDER BY stage""".stripMargin),
    "q_ohlc" -> (qOhlc _,
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id, value,
        |         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS micro,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |           ORDER BY ts, event_id) AS rn_a,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |           ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, d,
        |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       MAX(value) AS high,
        |       MIN(value) AS low,
        |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       COUNT(*) AS n,
        |       CAST(SUM(micro) AS BIGINT) // COUNT(*) AS mean_micro
        |FROM e GROUP BY event_type, d
        |ORDER BY event_type, d""".stripMargin),
    "q_active_users" -> (qActiveUsers _,
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |spine AS (SELECT DISTINCT day FROM act),
        |contrib AS (
        |  SELECT a.user_id, a.day + i AS obs_day
        |  FROM act a, UNNEST(RANGE(0, 28)) AS u(i)
        |  WHERE EXISTS (SELECT 1 FROM spine s WHERE s.day = a.day + i)),
        |mau AS (
        |  SELECT obs_day, COUNT(DISTINCT user_id) AS mau
        |  FROM contrib GROUP BY obs_day),
        |dau AS (
        |  SELECT day, COUNT(DISTINCT user_id) AS dau FROM act GROUP BY day)
        |SELECT DATE '1970-01-01' + CAST(d.day AS INT) AS d, dau, mau,
        |       (1000000 * dau) // mau AS stickiness_ppm
        |FROM dau d JOIN mau m ON d.day = m.obs_day
        |ORDER BY d""".stripMargin),
    "q_cart_sessions" -> (qCartSessions _,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
        |                 WHEN LAG(tus) OVER w IS NULL THEN 1
        |                 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, sess_id,
        |         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
        |         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
        |  FROM sess GROUP BY user_id, sess_id)
        |SELECT has_view, has_click, has_purchase, COUNT(*) AS n_sessions
        |FROM per_sess GROUP BY 1, 2, 3
        |ORDER BY has_view, has_click, has_purchase""".stripMargin),
    "q_win_streak" -> (qWinStreak _,
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp),
        |best AS (
        |  SELECT user_id, CAST(MAX(len) AS BIGINT) AS best_streak
        |  FROM runs GROUP BY user_id)
        |SELECT best_streak, COUNT(*) AS n_users
        |FROM best GROUP BY best_streak ORDER BY best_streak""".stripMargin),
    "q_conversion_lag" -> (qConversionLag _,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |f AS (
        |  SELECT *,
        |    MIN(CASE WHEN event_type IN ('click','view') THEN tus END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft
        |  FROM e),
        |lag_per_user AS (
        |  SELECT user_id, MIN(tus - ft) AS lag_us
        |  FROM f WHERE event_type = 'purchase' AND ft IS NOT NULL
        |  GROUP BY user_id)
        |SELECT CASE WHEN lag_us < 3600000000 THEN 'a_under_1h'
        |            WHEN lag_us < 86400000000 THEN 'b_1h_to_1d'
        |            WHEN lag_us < 604800000000 THEN 'c_1d_to_7d'
        |            ELSE 'd_over_7d' END AS bucket,
        |       COUNT(*) AS n_users,
        |       ROUND(CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) / 3600000000, 3)
        |         AS avg_lag_hours
        |FROM lag_per_user GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_attribution" -> (qAttribution _,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN tus END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_tus,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
        |  FROM e)
        |SELECT CASE WHEN lt_tus IS NOT NULL AND tus - lt_tus <= 604800000000
        |            THEN lt_type ELSE 'none' END AS channel,
        |       COUNT(*) AS n_purchases,
        |       ROUND(CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) / 100.0, 2)
        |         AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_throttle_dedup" -> (qThrottleDedup _,
      """WITH RECURSIVE ordered AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |keep AS (
        |  SELECT user_id, event_id, tus, rn, tus AS last_kept, TRUE AS kept
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.event_id, o.tus, o.rn,
        |         CASE WHEN o.tus - k.last_kept > 600000000
        |              THEN o.tus ELSE k.last_kept END,
        |         o.tus - k.last_kept > 600000000
        |  FROM ordered o
        |  JOIN keep k ON o.user_id = k.user_id AND o.rn = k.rn + 1)
        |SELECT user_id, event_id FROM keep WHERE kept
        |ORDER BY user_id, event_id""".stripMargin),
    "q_scd2_snapshot" -> (qScd2Snapshot _,
      s"""WITH $scd2Ctes,
        |live AS (
        |  SELECT user_id, attr, version, valid_from,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
        |  FROM grp WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00')
        |SELECT user_id, attr AS state_at_probe, version, valid_from
        |FROM live WHERE rn = 1 ORDER BY user_id""".stripMargin),
    "q_scd2" -> (qScd2 _,
      s"""WITH $scd2Ctes
        |SELECT user_id, version, attr, valid_from, n_events,
        |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        |       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
        |         AS is_current
        |FROM grp ORDER BY user_id, version""".stripMargin),
    // comparisons run on epoch_us (explicit microsecond floor): the parquet
    // ts is TIMESTAMP(NANOS) and Spark floors to micros at load, so an
    // oracle comparing raw nanos would call a same-microsecond-later-nanos
    // event "strictly after" where Spark sees a tie — epoch_us pins the
    // truncation regardless of how the DuckDB build reads TIMESTAMP_NS
    "q_funnel" -> (qFunnel _,
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (
        |  SELECT user_id, MIN(tus) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.tus) AS t2 FROM ev e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > v.t1 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.tus) AS t3 FROM ev e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > c.t2 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p
        |ORDER BY stage""".stripMargin),
    "q_sessionize" -> (qSessionize _,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, tus,
        |         CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
        |              WHEN LAG(tus) OVER w IS NULL THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |sess AS (
        |  SELECT user_id, tus,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, sess_id, MIN(tus) AS start_us, MAX(tus) AS end_us,
        |       COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin),
    "q_event_path" -> (qEventPath _,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, tus,
        |         CASE WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
        |              WHEN LAG(tus) OVER w IS NULL THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, tus, event_id,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, sess_id,
        |         ARRAY_TO_STRING((ARRAY_AGG(event_type ORDER BY tus, event_id))[1:8], '>') AS path
        |  FROM sess GROUP BY user_id, sess_id)
        |SELECT path, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    "q_gapfill" -> (qGapfill _,
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n_day,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vc_day
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |spine AS (
        |  SELECT user_id,
        |         CAST(UNNEST(GENERATE_SERIES(CAST(MIN(d) AS TIMESTAMP),
        |           CAST(MAX(d) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.d,
        |       COALESCE(dy.n_day, 0) AS n_events,
        |       CAST(LAST_VALUE(dy.vc_day IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |         AS filled_sum
        |FROM spine s LEFT JOIN daily dy ON s.user_id = dy.user_id AND s.d = dy.d
        |ORDER BY s.user_id, s.d""".stripMargin),
    "q_cohort_ltv" -> (qCohortLtv _,
      """WITH first AS (
        |  SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY cohort),
        |weekly AS (
        |  SELECT f.cohort,
        |         CAST(DATE_DIFF('day', f.cohort,
        |           CAST(DATE_TRUNC('week', e.ts) AS DATE)) / 7 AS INTEGER) AS week_offset,
        |         COUNT(DISTINCT e.user_id) AS n_payers,
        |         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM events e JOIN first f USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, CAST(SUM(rev_c) OVER (PARTITION BY cohort ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
        |  FROM weekly)
        |SELECT c.cohort, c.week_offset, c.n_payers,
        |       CAST(c.rev_c AS DOUBLE) / 100.0 AS week_revenue,
        |       CAST(c.cum_c AS DOUBLE) / CAST(s.cohort_size * 100 AS DOUBLE)
        |         AS ltv_per_member
        |FROM cum c JOIN sizes s USING (cohort)
        |ORDER BY c.cohort, c.week_offset""".stripMargin),
    "q_interpolate" -> (qInterpolate _,
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n_day,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vc_day
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |spine AS (
        |  SELECT user_id,
        |         CAST(UNNEST(GENERATE_SERIES(CAST(MIN(d) AS TIMESTAMP),
        |           CAST(MAX(d) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM daily GROUP BY user_id),
        |f AS (
        |  SELECT s.user_id, s.d, dy.n_day, dy.vc_day,
        |    LAST_VALUE(dy.vc_day IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
        |    LAST_VALUE(CASE WHEN dy.vc_day IS NOT NULL THEN s.d END IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
        |    FIRST_VALUE(dy.vc_day IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
        |    FIRST_VALUE(CASE WHEN dy.vc_day IS NOT NULL THEN s.d END IGNORE NULLS) OVER (
        |      PARTITION BY s.user_id ORDER BY s.d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
        |  FROM spine s LEFT JOIN daily dy ON s.user_id = dy.user_id AND s.d = dy.d)
        |SELECT user_id, d, COALESCE(n_day, 0) AS n_events,
        |  CASE WHEN vc_day IS NOT NULL THEN CAST(vc_day AS DOUBLE) / 100.0
        |       ELSE CAST(vp * DATE_DIFF('day', d, dn) + vn * DATE_DIFF('day', dp, d)
        |                 AS DOUBLE)
        |            / CAST(DATE_DIFF('day', dp, dn) * 100 AS DOUBLE) END AS value,
        |  CAST(vc_day IS NULL AS INT) AS interp
        |FROM f ORDER BY user_id, d""".stripMargin),
    "q_retention" -> (qRetention _,
      """WITH first AS (
        |  SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
        |  FROM events)
        |SELECT cohort,
        |       CAST(DATE_DIFF('day', cohort, wk) / 7 AS INTEGER) AS week_offset,
        |       COUNT(*) AS n_users
        |FROM first JOIN active USING (user_id)
        |GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin),
  )
}
