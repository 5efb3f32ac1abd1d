package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY.md §2.3). The reference's
  * "incremental" model is a manual full re-load with a fresh batch stamp
  * (reference dags/create-data-lake.py:18,38,50); the streaming-native
  * re-expression is a readStream source feeding the SAME transformations the
  * batch queries use — Spark's unified Dataset API means each function below
  * accepts either a batch or a streaming DataFrame of the events schema
  * (ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, ...).
  *
  * Scale notes: watermarks bound state (late rows beyond 10 minutes are
  * dropped, closed windows evicted); without one, windowed state grows
  * unboundedly at 100 TB/day ingest. Sinks should use append mode +
  * checkpointing; state store partitioning follows
  * spark.sql.shuffle.partitions.
  *
  * The live-only functions (the `start*` sinks, [[readEventsStream]] and
  * the stateful twins) are reached only from tests. Each stays because a
  * test holds it equal to a registered batch key, or because it is the
  * source or sink such a test needs.
  */
object Streams {

  /** Tumbling 10-minute counts/sums per event type, watermarked. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding 10/5-minute counts, watermarked. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"))

  /** Per-user session windows, 5-minute gap, watermarked. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Watermarked per-(hour, type) counts — the aggregation half of the
    * trending-top-k leaderboard ([[graft.ops.StreamingShaped.qStreamTopk]]
    * runs [[rankTopk]] over exactly this on batch input). In the live form
    * the rank is applied per finalized window by the sink (foreachBatch /
    * on the completed table): rank is not incrementally maintainable
    * inside the streaming aggregation itself, and doesn't need to be —
    * each closed window's board is final. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"))

  /** Top-k board per window from the counts table — total order
    * (n DESC, type) so the board is deterministic. */
  def rankTopk(counts: DataFrame, k: Int = 3): DataFrame =
    counts
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("wstart"))
          .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rk") <= k)
      .select(col("wstart"), col("rk"), col("event_type"), col("n"))

  /** Live twin of [[graft.ops.StreamingShaped.qStreamDedup]]: keep one
    * arrival per (user, event_type, event-time hour), dropping re-deliveries
    * while the hour's state is inside the watermark horizon. The kept-key
    * CENSUS is arrival-order independent (it's the distinct-key count), so
    * the e2e test replays a shuffled stream and asserts census equality
    * with the batch twin; which PHYSICAL row survives is arrival order by
    * design — the same at-least-once contract as the engine it models.
    * Test-only; it stays as the live twin of q_stream_dedup. */
  def dedupFirstPerHour(events: DataFrame): DataFrame =
    events
      .withColumn("hour_bucket", date_trunc("hour", col("ts")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_bucket")

  /** Streaming twin of [[graft.ops.EventAnalytics.throttle]]: keep an
    * event iff more than `gapMicros` has passed since the last KEPT event
    * of the same user — the chained "capacitor" recurrence, carried ACROSS
    * micro-batches through flatMapGroupsWithState (the variable-output
    * sibling of mapGroupsWithState: a batch of n events emits 0..n kept
    * rows, so the 1-row-per-group map variant cannot express it). State
    * per user is ONE long (the last kept timestamp); within a batch events
    * replay in (time, id) order so batch boundaries cannot reorder the
    * recurrence — feeding the same events in any batch split that respects
    * time order yields exactly the batch operator's kept set (asserted in
    * the e2e suite). At 100 TB ingest the state store holds 8 bytes per
    * active user, partitioned by the group key; production adds
    * GroupStateTimeout.EventTimeTimeout to retire idle users. Test-only;
    * it stays as the live twin of q_throttle_dedup's recurrence. */
  def throttleStream(events: DataFrame, gapMicros: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var lastKept = state.getOption.getOrElse(Long.MinValue)
        val kept = Vector.newBuilder[(Long, Long)]
        rows.toArray.sortBy(e => (e._3, e._2)).foreach { case (_, eid, t) =>
          if (lastKept == Long.MinValue || t - lastKept > gapMicros) {
            lastKept = t
            kept += ((user, eid))
          }
        }
        state.update(lastKept)
        kept.result().iterator
      }
      .toDF("user_id", "event_id")
  }

  /** Cross-micro-batch windowed funnel — the streaming twin of
    * `EventAnalytics.qFunnelWindow`'s per-user recurrence: per user, the
    * deepest view<click<purchase chain whose endpoint falls within
    * `windowMicros` of the chain's first event. The batch form's two
    * conditional running maxima ARE the state: (latest view ts, max of
    * that over clicks, best stage so far) — three values per user, updated
    * by replaying each batch's rows in (ts, event_id) order, so any batch
    * split that respects time order yields exactly the batch operator's
    * stages (asserted in the e2e suite against the harness corpus). Stage
    * is monotone, so Update-mode emissions converge to the final stage.
    * At 100 TB ingest: ~17 bytes of state per active user; production
    * adds EventTimeTimeout to retire idle users. Test-only; it stays as the
    * live twin of q_funnel_window. */
  def funnelStream(events: DataFrame, windowMicros: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsm"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Int), (Long, Int)](
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        // rows before the current one in (tsm, event_id) order feed the
        // running maxima; sequential replay reproduces the batch window's
        // UNBOUNDED PRECEDING .. 1 PRECEDING frame exactly
        val next = rows.toArray.sortBy(e => (e._4, e._3))
          .foldLeft(state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0))) {
            case (s, (_, et, _, t)) => funnelStep(s, et, t, windowMicros)
          }
        state.update(next)
        (user, next._3)
      }
      .toDF("user_id", "stage")
  }

  /** One step of the windowed-funnel recurrence over the
    * (latest view ts, max view-ts over clicks, stage) triple — shared by
    * the O(1)-state in-order twin and the buffered late-tolerant twin so
    * the recurrence can never drift between them. */
  private def funnelStep(
      s: (Long, Long, Int), et: String, t: Long, windowMicros: Long): (Long, Long, Int) = {
    var (lastView, maxF, stage) = s
    et match {
      case "view" =>
        if (stage < 1) stage = 1
        if (t > lastView) lastView = t
      case "click" =>
        if (lastView != Long.MinValue) {
          if (lastView >= t - windowMicros && stage < 2) stage = 2
          if (lastView > maxF) maxF = lastView
        }
      case "purchase" =>
        if (maxF != Long.MinValue && maxF >= t - windowMicros && stage < 3)
          stage = 3
      case _ =>
    }
    (lastView, maxF, stage)
  }

  /** LATE-TOLERANT windowed funnel — [[funnelStream]] for sources that do
    * NOT deliver in event-time order across micro-batches. The O(1) triple
    * cannot absorb a late view (a click already processed would need
    * re-examination), so per-user state BUFFERS the events seen so far and
    * each micro-batch recomputes the recurrence from a full
    * (ts, event_id)-sorted replay through the same [[funnelStep]] — events
    * may then arrive in ANY cross-batch order and the final stage equals
    * the batch operator's (asserted in the e2e suite with a deliberately
    * reordered replay). Recompute-from-scratch makes the emitted stage
    * trivially monotone, so Update-mode emissions converge. The price of
    * reorder tolerance is O(per-user events in flight) state; production
    * bounds it with a watermark + EventTimeTimeout eviction once a user's
    * window can no longer change (the standard buffer-until-watermark
    * pattern), which NoTimeout here leaves out to keep the test corpus
    * deterministic. Test-only; it stays as the reorder-tolerant live twin
    * of q_funnel_window. */
  def funnelStreamLate(events: DataFrame, windowMicros: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsm"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Vector[(Long, Long, String)], (Long, Int)](
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        val buf = state.getOption.getOrElse(Vector.empty) ++
          rows.map(r => (r._4, r._3, r._2))
        state.update(buf)
        val stage = buf.sortBy(e => (e._1, e._2))
          .foldLeft((Long.MinValue, Long.MinValue, 0)) {
            case (s, (t, _, et)) => funnelStep(s, et, t, windowMicros)
          }._3
        (user, stage)
      }
      .toDF("user_id", "stage")
  }

  /** Stream-stream interval join: match each left event to right events of
    * the same user within [0, 10 min] after it — the impression⋈click
    * shape. BOTH sides are watermarked and the join condition bounds event
    * time in both directions; that pair of constraints is what lets the
    * state store evict rows once the watermark passes, keeping state
    * bounded at any ingest rate. Without the time bounds Spark would have
    * to buffer both streams forever. Inner join: unmatched rows simply
    * never emit (outer variants emit on watermark expiry). */
  def intervalJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("l_ts"), col("value").as("l_value"))
    val r = right.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("l_ts"), col("r_ts"),
        col("l_value"), col("r_value"))
  }

  /** foreachBatch → JDBC idempotent upsert: the production pattern for
    * sinks with no native streaming support (JDBC, upsert-by-key stores,
    * multi-sink fan-out). Update-mode windowed aggregates re-emit a key
    * whenever its total changes; the sink upserts BY KEY (delete+insert in
    * one transaction per partition), so re-emissions overwrite and a
    * replayed micro-batch (crash between write and checkpoint commit)
    * lands identically — exactly-once table state from at-least-once
    * delivery. Work happens on executors via foreachPartition (one
    * connection + one transaction per partition, rows streamed through
    * prepared statements — never collected to the driver). The table needs
    * PRIMARY KEY (wstart, event_type), matching the aggregation key.
    * Test-only; it stays as the sink that holds the streamed
    * q_stream_tumble aggregate equal to the batch one. */
  def startJdbcUpsert(windowed: DataFrame, url: String, table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    windowed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertByKey(batch, url, table)
      }
      .start()

  /** Transactional per-partition upsert of (wstart, event_type, n,
    * sum_value) rows. Delete-then-insert inside one transaction is the
    * portable upsert (Derby MERGE is version-picky about parameter
    * markers); per key it is equivalent and idempotent. */
  private[graft] def upsertByKey(batch: DataFrame, url: String, table: String): Unit = {
    // SQL identifiers can't be bound as parameters; guard the interpolation
    require(table.matches("[A-Za-z0-9_.]+"), s"unsafe table name: $table")
    batch.select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val del = conn.prepareStatement(
              s"DELETE FROM $table WHERE wstart = ? AND event_type = ?")
            val ins = conn.prepareStatement(
              s"INSERT INTO $table (wstart, event_type, n, sum_value) VALUES (?, ?, ?, ?)")
            rows.foreach { r =>
              val ws = r.getAs[java.sql.Timestamp]("wstart")
              val et = r.getAs[String]("event_type")
              del.setTimestamp(1, ws); del.setString(2, et)
              del.executeUpdate()
              ins.setTimestamp(1, ws); ins.setString(2, et)
              ins.setLong(3, r.getAs[Long]("n"))
              ins.setDouble(4, r.getAs[Double]("sum_value"))
              ins.executeUpdate()
            }
            conn.commit()
          } finally conn.close()
        }
      }
  }

  /** Stream micro-batches into a [[graft.ops.TxnLog]] table with
    * exactly-once semantics — the streaming→lakehouse closing piece: each
    * micro-batch commits through [[graft.ops.TxnLog.appendOnce]] keyed by
    * (appId, batchId), so the at-least-once replay a crash between sink
    * write and checkpoint commit causes finds its idempotence marker in
    * the log and skips, and concurrent BATCH writers (append/compact/
    * merge) interleave safely through the same optimistic commit
    * protocol. This is the scalable dual of the reference's replace-mode
    * load run continuously: ACID versions instead of truncate+reload.
    * Test-only; it stays as the streaming sink of q_txn_commit's log. */
  def startTxnAppend(stream: DataFrame, tablePath: String, appId: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.TxnLog.appendOnce(batch, tablePath, appId, batchId); ()
      }
      .start()

  /** foreachBatch → durable-index ingest: stream vectors (vec_id,
    * embedding) into a [[graft.ops.IvfIndex]] under its frozen centroids,
    * the live twin of [[graft.ops.IvfIndex.upsert]]. The upsert is
    * idempotent (anti-join on already-stored ids), so the at-least-once
    * micro-batch replay a crash between sink write and checkpoint commit
    * causes lands exactly-once in the index — the same contract as
    * [[startJdbcUpsert]], with the id anti-join playing the role of the
    * keyed DELETE. Append output mode: rows enter the index once and the
    * centroids are frozen, so nothing is ever re-emitted. Test-only; it
    * stays as the live twin of q_ivf_incremental. */
  def startIvfIngest(vectors: DataFrame, indexPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.IvfIndex.upsert(batch.sparkSession, batch, indexPath)
      }
      .start()

  /** The static event-type → business-tier dimension used by
    * [[enrichedTierCounts]] — in production a metastore lookup table; here
    * a literal so batch twin, live stream, and the DuckDB oracle all pin
    * the same five rows. */
  def tierDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "tier")
  }

  /** Stream-static enrichment — the canonical "join the firehose to a
    * dimension" serving shape: each event broadcast-joined to the static
    * tier table on event_type (stream-static joins keep NO state — the
    * static side is re-broadcast per micro-batch, so this scales with the
    * dim, not the stream), then watermarked hourly counts + exact cent
    * revenue per tier. Unified-API twin: on batch input the watermark is a
    * no-op and the SAME function is what the oracle verifies
    * ([[graft.ops.StreamingShaped.qStreamEnrich]]). */
  def enrichedTierCounts(events: DataFrame, tiers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(tiers), "event_type")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(col("w.start").as("wstart"), col("tier"), col("n"), col("cents"))

  /** File-source entry: tail a DIRECTORY of parquet event files as a stream
    * (the file source rejects single files; production: Kafka source, same
    * downstream plan). Applies the same nanos→micros ts normalization as
    * the batch loader. Test-only; it stays as the source of the live-twin
    * tests. */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame =
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(spark.read.parquet(eventsDir).schema)
        .parquet(eventsDir))
}
