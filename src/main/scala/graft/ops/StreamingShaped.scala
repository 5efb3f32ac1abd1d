package graft.ops

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-shaped queries with batch semantics (SURVEY.md §2.3). The
  * reference is batch-only (schedule_interval=None, reference
  * dags/create-data-lake.py:18); these express the standard event-time
  * windows over `events` as plain aggregations, DuckDB-verifiable. The
  * tumble, slide, session, join, top-k and enrich keys call the
  * [[graft.streaming.Streams]] functions that also run on a readStream
  * source (`withWatermark` is dropped on batch input), so the oracle checks
  * the live code; StreamingSpec and StreamingE2ESpec run the live path.
  *
  * Scale notes: tumbling/sliding windows are hash aggregations on
  * (bucket, key) — partial aggregation applies, shuffle carries one row per
  * group. The sliding window expands each event into width/slide rows before
  * aggregating (explode of 2 here). Session windows need a per-key sort;
  * Spark's session_window aggregation shuffles once on user_id.
  */
object StreamingShaped extends QueryModule {

  /** Tumbling 10-minute counts per event type: [[Streams.tumblingCounts]]
    * with `sum_value` rounded for the hash check. */
  def qStreamTumble(spark: SparkSession, dir: String): DataFrame =
    Streams.tumblingCounts(Tables.events(spark, dir))
      .withColumn("sum_value", round(col("sum_value"), 4))

  /** Sliding window: 10-minute width, 5-minute slide — every event lands in
    * exactly two windows. */
  def qStreamSlide(spark: SparkSession, dir: String): DataFrame =
    Streams.slidingCounts(Tables.events(spark, dir))

  /** Session windows per user, 5-minute inactivity gap. Output bounds follow
    * Spark's session semantics: end = last event + gap. */
  def qStreamSession(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionCounts(Tables.events(spark, dir))

  /** Stream-stream interval join, batch twin: every view matched to the
    * same user's purchases within [0, 10 min] after it — the
    * impression⋈click attribution shape. The EXACT code path is
    * [[Streams.intervalJoin]] (unified Dataset API: its
    * `withWatermark` is a no-op on batch input), so the semantics the
    * oracle verifies here are the semantics the live watermarked
    * stream-stream join runs in StreamingSpec.
    *
    * Scale shape: an equi-join on user_id with residual time-range
    * predicates — shuffles both sides once on the HIGH-cardinality user
    * key; the per-user match work is bounded by per-user event counts, not
    * the corpus. In the live form the same time bounds are what let the
    * state store evict buffered rows at the watermark — the batch and
    * streaming plans bound their working set by the same window. */
  def qStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Streams.intervalJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"))
      .orderBy(col("user_id"), col("l_ts"), col("r_ts"))
  }

  /** Streaming dedup, batch twin (`dropDuplicatesWithinWatermark` shape):
    * collapse duplicate (user, event_type) arrivals inside each 1-hour
    * event-time bucket to the FIRST occurrence by (ts, event_id) — the
    * at-least-once-delivery repair every ingest pipeline runs before
    * counting. Emits the per-type census (kept vs dropped) the repair
    * reports. In the live form the 1-hour bucket is the watermark horizon
    * that lets state for closed hours be evicted; the batch twin realizes
    * the identical keep-first semantics as one map-side-combinable
    * min-aggregation on (user, type, hour) — no window function, no
    * per-key total order beyond the group's own min. */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"),
        window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("arrivals"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("kept"),
        sum(col("arrivals") - 1).as("dropped"))
      .orderBy(col("event_type"))

  /** Windowed trending top-k, batch twin — the "what's hot this hour"
    * leaderboard a live dashboard materializes per closed window: event
    * counts per (1-hour tumble, type), then the top 3 types per window by
    * (count DESC, type) — a total order, so the board is deterministic.
    * In the live form the same aggregate runs under a watermark and the
    * rank is applied per finalized window by the sink (foreachBatch); the
    * batch twin IS that per-window computation.
    *
    * Scale shape: one hash aggregation on (window, type) — partial
    * aggregation applies — then a rank window PARTITIONED by window
    * bucket, which Spark plans as WindowGroupLimit-able per-partition
    * work: no global sort, state bounded by |types| per bucket. */
  def qStreamTopk(spark: SparkSession, dir: String): DataFrame =
    Streams.rankTopk(Streams.hourlyTypeCounts(Tables.events(spark, dir)))
      .orderBy(col("wstart"), col("rk"))

  /** Watermark-lateness census — the measurement that SIZES a watermark
    * before a streaming job commits to one: replaying each source's events
    * in arrival order (event_id is the ingest sequence; event_type stands
    * in for the source partition whose running max event-time drives the
    * watermark), count how many events would arrive LATE under candidate
    * delays of 0s / 60s / 5min / 15min, plus the worst observed disorder.
    * The table answers "withWatermark('ts', how much?)" with data instead
    * of folklore — pick the smallest delay whose late count is acceptable.
    *
    * Scale shape: one window pass per source partition (running max over
    * arrival order — exactly the state the live watermark tracker keeps),
    * then a single map-side-combinable rollup; the four candidate delays
    * are conditional sums in the SAME pass, so the corpus is scanned once,
    * never once-per-candidate. */
  def qWatermarkLateness(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("wm_us", max(col("us")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
          .orderBy(col("event_id")).rowsBetween(Long.MinValue, -1)))
      .withColumn("disorder_us", greatest(coalesce(col("wm_us") - col("us"), lit(0L)), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("disorder_us")).as("max_disorder_us"),
        sum(when(col("disorder_us") > 0L, 1L).otherwise(0L)).as("late_0s"),
        sum(when(col("disorder_us") > 60000000L, 1L).otherwise(0L)).as("late_60s"),
        sum(when(col("disorder_us") > 300000000L, 1L).otherwise(0L)).as("late_300s"),
        sum(when(col("disorder_us") > 900000000L, 1L).otherwise(0L)).as("late_900s"))
      .withColumn("late_60s_ppm", expr("div(1000000 * late_60s, n_events)"))
      .orderBy(col("event_type"))

  /** Stream-static enrichment, batch twin: the EXACT code path is
    * [[Streams.enrichedTierCounts]] (unified Dataset API —
    * its watermark is a no-op on batch input), joining every event to the
    * 5-row static tier dimension and rolling up hourly counts + exact cent
    * revenue per business tier. The live form is exercised end-to-end in
    * StreamingE2ESpec against this twin.
    *
    * Scale shape: a broadcast join (the static side is dimension-sized by
    * definition — stream-static joins hold no state) followed by one
    * map-side-combinable (window, tier) aggregation; the stream is never
    * shuffled except to merge partial aggregates. */
  def qStreamEnrich(spark: SparkSession, dir: String): DataFrame =
    Streams.enrichedTierCounts(Tables.events(spark, dir), Streams.tierDim(spark))
      .orderBy(col("wstart"), col("tier"))

  val registry: Map[String, (Query, String)] = Map(
    "q_stream_enrich" -> (qStreamEnrich _,
      """WITH tiers(event_type, tier) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('purchase', 'revenue'), ('signup', 'growth'), ('error', 'ops')),
        |j AS (
        |  SELECT TIME_BUCKET(INTERVAL '1 hour', e.ts) AS wstart, t.tier,
        |         CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        |  FROM events e JOIN tiers t USING (event_type))
        |SELECT wstart, tier, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        |FROM j GROUP BY wstart, tier ORDER BY wstart, tier""".stripMargin),
    "q_watermark_lateness" -> (qWatermarkLateness _,
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_type, us,
        |         MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
        |  FROM e),
        |d AS (
        |  SELECT event_type,
        |         GREATEST(COALESCE(wm_us - us, 0), 0) AS disorder_us
        |  FROM w)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MAX(disorder_us) AS max_disorder_us,
        |       CAST(SUM(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_0s,
        |       CAST(SUM(CASE WHEN disorder_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_60s,
        |       CAST(SUM(CASE WHEN disorder_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_300s,
        |       CAST(SUM(CASE WHEN disorder_us > 900000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS late_900s,
        |       (1000000 * CAST(SUM(CASE WHEN disorder_us > 60000000 THEN 1 ELSE 0 END)
        |          AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS late_60s_ppm
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_stream_topk" -> (qStreamTopk _,
      """WITH counts AS (
        |  SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS wstart, event_type,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT wstart, event_type, n,
        |         ROW_NUMBER() OVER (PARTITION BY wstart
        |                            ORDER BY n DESC, event_type) AS rk
        |  FROM counts)
        |SELECT wstart, CAST(rk AS INT) AS rk, event_type, n
        |FROM ranked WHERE rk <= 3 ORDER BY wstart, rk""".stripMargin),
    "q_stream_dedup" -> (qStreamDedup _,
      """WITH b AS (
        |  SELECT user_id, event_type, DATE_TRUNC('hour', ts) AS h,
        |         COUNT(*) AS arrivals
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, COUNT(*) AS kept,
        |       CAST(SUM(arrivals - 1) AS BIGINT) AS dropped
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_stream_tumble" -> (qStreamTumble _,
      """SELECT TIME_BUCKET(INTERVAL '10 minutes', ts) AS wstart, event_type,
        |       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin),
    "q_stream_slide" -> (qStreamSlide _,
      """WITH buckets AS (
        |  SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) AS wstart, event_type FROM events
        |  UNION ALL
        |  SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS wstart,
        |         event_type FROM events)
        |SELECT wstart, event_type, COUNT(*) AS n
        |FROM buckets GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin),
    "q_stream_join" -> (qStreamJoin _,
      """WITH ev AS (
        |  -- micro-floor as in q_stream_session: Spark joins on the
        |  -- micro-floored loader timestamps
        |  SELECT user_id, event_type, value, make_timestamp(epoch_us(ts)) AS ts
        |  FROM events),
        |l AS (SELECT user_id, ts AS l_ts, value AS l_value FROM ev
        |      WHERE event_type = 'view'),
        |r AS (SELECT user_id AS r_user, ts AS r_ts, value AS r_value FROM ev
        |      WHERE event_type = 'purchase')
        |SELECT user_id, l_ts, r_ts, l_value, r_value
        |FROM l JOIN r ON user_id = r_user
        |  AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL '10 minutes'
        |ORDER BY user_id, l_ts, r_ts""".stripMargin),
    "q_stream_session" -> (qStreamSession _,
      """WITH ev AS (
        |  -- micro-floor BEFORE the gap arithmetic: the parquet ts is nanos
        |  -- and Spark sessionizes on micro-floored timestamps, so a gap of
        |  -- exactly 5min-plus-nanoseconds must not split differently here
        |  SELECT user_id, event_id, value, make_timestamp(epoch_us(ts)) AS ts
        |  FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL '5 minutes' OR
        |              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM ev),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL '5 minutes' AS session_end,
        |       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
  )
}
