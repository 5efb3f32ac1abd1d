package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end streaming over the real file source: tail the events parquet
  * as a stream, run the shared windowed transform, and check the streamed
  * result equals the batch plan over the same data — Spark's unified
  * Dataset API contract, exercised for real.
  */
class StreamingE2ESpec extends SparkSpec {

  /** The file source wants a directory; stage the events parquet into one. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("file-source stream of events equals batch tumbling counts") {
    val q = Streams.tumblingCounts(Streams.readEventsStream(spark, eventsDir))
      .writeStream.format("memory").queryName("e2e_tumble")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("e2e_tumble")
    val batch = Streams.tumblingCounts(Tables.events(spark, sf))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-static tier enrichment equals the batch twin") {
    val q = Streams.enrichedTierCounts(
        Streams.readEventsStream(spark, eventsDir), Streams.tierDim(spark))
      .writeStream.format("memory").queryName("e2e_enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("e2e_enrich")
    val batch = Streams.enrichedTierCounts(
      Tables.events(spark, sf), Streams.tierDim(spark))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // every event lands in exactly one (window, tier) cell: counts conserve
    val n = streamed.agg(sum("n")).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("live trending top-k equals the batch leaderboard") {
    // the live half: watermarked per-(hour, type) counts over the stream;
    // the rank half runs on the finalized table — the foreachBatch shape
    val q = Streams.hourlyTypeCounts(Streams.readEventsStream(spark, eventsDir))
      .writeStream.format("memory").queryName("e2e_topk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.rankTopk(spark.table("e2e_topk"))
    val batch = graft.ops.StreamingShaped.qStreamTopk(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("session windows via file stream conserve events") {
    val q = Streams.sessionCounts(Streams.readEventsStream(spark, eventsDir))
      .writeStream.format("memory").queryName("e2e_session")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("e2e_session").agg(sum("n_events")).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("streamed throttle equals the batch recurrence across time-ordered micro-batches") {
    import spark.implicits._
    val gap = 10L * 60 * 1000000
    val events = Tables.events(spark, sf)
    val batchKept = graft.ops.EventAnalytics.throttle(
      events.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus")),
      "user_id", "tus", "event_id", gap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // split the stream into two files at the median timestamp — a batch
    // boundary that respects time order, so state hand-off is exercised
    val mid = events.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .collect()(0).getLong(0)
    val src = java.nio.file.Files.createTempDirectory("thr-src")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("thr-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    val slim = events.select(col("user_id"), col("event_id"), col("ts"))
    stage("a_early", slim.filter(unix_micros(col("ts")) <= mid))
    stage("b_late", slim.filter(unix_micros(col("ts")) > mid))
    // the file source drains OLDEST mtime first; pin the order explicitly
    // (same-second staging would otherwise leave it to listing luck)
    java.nio.file.Files.setLastModifiedTime(src.resolve("a_early.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema(slim.schema)
      .option("maxFilesPerTrigger", "1") // force ≥ 2 micro-batches
      .parquet(src.toString)
    val q = Streams.throttleStream(stream, gap)
      .writeStream.format("memory").queryName("e2e_throttle")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("e2e_throttle").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchKept,
      s"stream/batch kept sets diverge: ${streamed.size} vs ${batchKept.size}")
  }

  test("streamed windowed funnel equals the batch stage counts across micro-batches") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val batchCounts = graft.ops.EventAnalytics.qFunnelWindow(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val mid = events.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .collect()(0).getLong(0)
    val src = java.nio.file.Files.createTempDirectory("fun-src")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("fun-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    val slim = events.select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    stage("a_early", slim.filter(unix_micros(col("ts")) <= mid))
    stage("b_late", slim.filter(unix_micros(col("ts")) > mid))
    java.nio.file.Files.setLastModifiedTime(src.resolve("a_early.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema(slim.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val q = Streams.funnelStream(stream, 4L * 3600 * 1000000)
      .writeStream.format("memory").queryName("e2e_funnel")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // stage is monotone per user: the final stage is the max emitted
    val finalStages = spark.table("e2e_funnel")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val streamedCounts = Map(
      "1_view" -> finalStages.count(_._2 >= 1).toLong,
      "2_click_4h" -> finalStages.count(_._2 >= 2).toLong,
      "3_purchase_4h" -> finalStages.count(_._2 >= 3).toLong)
    assert(streamedCounts == batchCounts,
      s"stream $streamedCounts vs batch $batchCounts")
  }

  test("late-tolerant funnel equals batch stages under a deliberately reordered replay") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val batchCounts = graft.ops.EventAnalytics.qFunnelWindow(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // Split by event_id PARITY, not time: both files span the whole time
    // range, so the second micro-batch delivers events that precede, in
    // event time, events already processed in the first — late views that
    // must retroactively upgrade clicks, late clicks that must bridge
    // view→purchase chains. The O(1)-state twin is documented NOT to
    // handle this; the buffered twin must.
    val src = java.nio.file.Files.createTempDirectory("funlate-src")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("funlate-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    val slim = events.select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    stage("a_even", slim.filter(col("event_id") % 2 === 0))
    stage("b_odd", slim.filter(col("event_id") % 2 === 1))
    java.nio.file.Files.setLastModifiedTime(src.resolve("a_even.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val stream = spark.readStream
      .schema(slim.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val q = Streams.funnelStreamLate(stream, 4L * 3600 * 1000000)
      .writeStream.format("memory").queryName("e2e_funnel_late")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val finalStages = spark.table("e2e_funnel_late")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val streamedCounts = Map(
      "1_view" -> finalStages.count(_._2 >= 1).toLong,
      "2_click_4h" -> finalStages.count(_._2 >= 2).toLong,
      "3_purchase_4h" -> finalStages.count(_._2 >= 3).toLong)
    assert(streamedCounts == batchCounts,
      s"reordered stream $streamedCounts vs batch $batchCounts")
  }

  test("checkpointed stream restarts exactly-once: no reprocessing, no loss") {
    val src = java.nio.file.Files.createTempDirectory("ckpt-src")
    val sink = java.nio.file.Files.createTempDirectory("ckpt-sink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-state").toString

    import spark.implicits._
    // the file source wants flat files in the watched dir, not write.parquet's
    // output directories — stage, then move the single part file in
    def writeBatch(name: String, ids: Range): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("ckpt-stage")
      ids.map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    // batch written BEFORE the schema probe below reads the directory
    writeBatch("b1", 0 until 100)

    def startQuery() = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(sink).count() == 100)

    writeBatch("b2", 100 until 150)
    val q2 = startQuery() // same checkpoint → resumes from recorded offsets
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(sink)
    assert(out.count() == 150, "restart must process only the new file, once")
    assert(out.select("event_id").distinct().count() == 150)
  }

  test("live stream into a TxnLog table: versioned exactly-once across restart and replay") {
    val src = java.nio.file.Files.createTempDirectory("txn-src")
    val tbl = java.nio.file.Files.createTempDirectory("txn-tbl").toString + "/tbl"
    val ckpt = java.nio.file.Files.createTempDirectory("txn-ckpt").toString
    import spark.implicits._
    def writeBatch(name: String, ids: Range): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("txn-stage")
      ids.map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    writeBatch("b1", 0 until 100)
    def startQuery() = graft.streaming.Streams.startTxnAppend(
      spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .parquet(src.toString),
      tbl, appId = "stream-e2e", checkpointDir = ckpt)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = graft.ops.TxnLog.headVersion(tbl)
    assert(graft.ops.TxnLog.read(spark, tbl, v1).count() == 100)
    // restart from the same checkpoint: only the new file lands, as a
    // NEW table version — the old version still reads as it was (ACID
    // versions, not truncate+reload)
    writeBatch("b2", 100 until 150)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val v2 = graft.ops.TxnLog.headVersion(tbl)
    assert(v2 > v1)
    assert(graft.ops.TxnLog.read(spark, tbl, v2).count() == 150)
    assert(graft.ops.TxnLog.read(spark, tbl, v1).count() == 100,
      "time travel to the pre-restart version must still work")
    // the crash-replay: re-submit micro-batch 0 (at-least-once delivery)
    // — the idempotence marker in the log must reject it
    val replay = spark.read.parquet(src.resolve("b1.parquet").toString)
    val (v, fresh) = graft.ops.TxnLog.appendOnce(replay, tbl, "stream-e2e", 0L)
    assert(v == -1L && !fresh, "a replayed micro-batch must be skipped")
    assert(graft.ops.TxnLog.headVersion(tbl) == v2 &&
      graft.ops.TxnLog.read(spark, tbl, v2).count() == 150,
      "replay must leave the table untouched")
  }

  test("Trigger.AvailableNow drains, self-terminates, and resumes incrementally") {
    // the scheduled-incremental-batch pattern — the streaming twin of the
    // reference's re-run-to-refresh model: each invocation drains exactly
    // the new data and exits on its own (no processAllAvailable/stop pair)
    val src = java.nio.file.Files.createTempDirectory("an-src")
    val sink = java.nio.file.Files.createTempDirectory("an-sink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("an-state").toString

    import spark.implicits._
    def writeBatch(name: String, ids: Range): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("an-stage")
      ids.map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    writeBatch("b1", 0 until 80)

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src.toString).schema)
        .parquet(src.toString)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow terminates by itself once the backlog is drained
      assert(q.awaitTermination(120000), "query must self-terminate")
    }
    runOnce()
    assert(spark.read.parquet(sink).count() == 80)
    writeBatch("b2", 80 until 130)
    runOnce()
    val out = spark.read.parquet(sink)
    assert(out.count() == 130, "second invocation drains only the new file, once")
    assert(out.select("event_id").distinct().count() == 130)
  }

  test("cosine_sim resolves in pure SQL through the session extensions") {
    // newSession() builds its function registry from the builtins plus the
    // extensions the shared session was built with; nothing registered at
    // run time on the parent carries over, so resolving here proves the
    // GraftExtensions install in GraftSession.build.
    val r = spark.newSession().sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c").collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("streamed keyed dedup census equals the batch twin under a shuffled replay") {
    // shuffled single-drain replay: arrival order scrambled (md5 of
    // event_id), every key still inside one watermark horizon, so the
    // kept-key census must equal the batch keep-first twin exactly
    val src = java.nio.file.Files.createTempDirectory("dedup-src")
    val shuffled = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
      .orderBy(md5(expr("CAST(ts AS STRING)")), col("user_id"))
    shuffled.coalesce(1).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(shuffled.schema).parquet(src.toString)
    val q = Streams.dedupFirstPerHour(stream)
      .writeStream.format("memory").queryName("e2e_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamedCensus = spark.table("e2e_dedup")
      .groupBy(col("event_type")).agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchCensus = graft.ops.StreamingShaped.qStreamDedup(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamedCensus == batchCensus,
      s"kept census diverged: $streamedCensus vs $batchCensus")
  }
}
