package graft

import graft.ops.StreamingShaped
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  test("batch tumble counts sum to event count") {
    val n = StreamingShaped.qStreamTumble(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("sliding windows hold each event exactly twice") {
    val n = StreamingShaped.qStreamSlide(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(n == 2 * Tables.events(spark, sf).count())
  }

  test("session events conserve the table; sessions don't overlap per user") {
    val df = StreamingShaped.qStreamSession(spark, sf).cache()
    val n = df.agg(sum("n_events")).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    val overlap = df.withColumn("prev_end", lag("session_end", 1).over(w))
      .filter(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
    assert(overlap.count() == 0)
    df.unpersist()
  }

  test("MemoryStream tumbling counts equal batch window() on same data") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("ts", "user_id", "event_type", "value")

    val base = Timestamp.valueOf("2025-01-01 00:00:00")
    val rows = (0 until 100).map { i =>
      (new Timestamp(base.getTime + i * 60000L), (i % 7).toLong,
        s"type_${i % 3}", i.toDouble)
    }
    mem.addData(rows)

    val q = Streams.tumblingCounts(streamDf).writeStream
      .format("memory").queryName("tumble_smoke").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumble_smoke")
      .select("wstart", "event_type", "n", "sum_value")
    val batch = rows.toDF("ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("q_stream_join batch twin equals the streamed interval join on the harness corpus") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"), col("event_type"))
    def side(t: String) = ev.filter(col("event_type") === t)
      .select("user_id", "ts", "value").as[(Long, Timestamp, Double)].collect()
    val views = side("view").sortBy(_._2.getTime)
    val purchases = side("purchase").sortBy(_._2.getTime)
    // split both sides at the same TIME boundary: the inner interval join
    // evicts left state only past watermark − bound, so a time-ordered
    // split can never lose a cross-batch match (an arbitrary split could)
    val cut = views(views.length / 2)._2.getTime
    val lMem = MemoryStream[(Long, Timestamp, Double)]
    val rMem = MemoryStream[(Long, Timestamp, Double)]
    val q = Streams.intervalJoin(
        lMem.toDF.toDF("user_id", "ts", "value"),
        rMem.toDF.toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("ssjoin_twin").outputMode("append").start()
    try {
      lMem.addData(views.filter(_._2.getTime < cut).toSeq)
      rMem.addData(purchases.filter(_._2.getTime < cut).toSeq)
      q.processAllAvailable()
      lMem.addData(views.filter(_._2.getTime >= cut).toSeq)
      rMem.addData(purchases.filter(_._2.getTime >= cut).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3), r.getDouble(4))
    val streamed = spark.table("ssjoin_twin").collect().map(key).toSet
    val batch = graft.ops.StreamingShaped.qStreamJoin(spark, sf).collect().map(key).toSet
    assert(batch.nonEmpty, "corpus must produce at least one view→purchase match")
    assert(streamed == batch,
      "cross-batch streamed interval join must equal the batch twin exactly")
  }

  test("stream-stream interval join matches within the window, drops beyond it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val lMem = MemoryStream[(Long, Timestamp, Double)]
    val rMem = MemoryStream[(Long, Timestamp, Double)]
    val lDf = lMem.toDF.toDF("user_id", "ts", "value")
    val rDf = rMem.toDF.toDF("user_id", "ts", "value")
    def t(min: Int) = Timestamp.valueOf(f"2025-01-01 00:$min%02d:00")
    // user 1: click 5 min after impression (match); user 2: 15 min (beyond
    // the 10-min bound, no match); user 3: click BEFORE impression (no match)
    lMem.addData(Seq((1L, t(0), 10.0), (2L, t(0), 20.0), (3L, t(10), 30.0)))
    rMem.addData(Seq((1L, t(5), 1.0), (2L, t(15), 2.0), (3L, t(5), 3.0)))
    val q = Streams.intervalJoin(lDf, rDf).writeStream
      .format("memory").queryName("ssjoin_smoke").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("ssjoin_smoke").collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSet == Set((1L, 10.0, 1.0)),
      s"only user 1 is inside [0, 10 min]: ${rows.mkString(",")}")
    // the plan must be a stateful stream-stream join, not a static one
    assert(spark.table("ssjoin_smoke").schema.fieldNames
      .sameElements(Array("user_id", "l_ts", "r_ts", "l_value", "r_value")))
  }

  test("foreachBatch JDBC upsert: update-mode re-emissions and replays land exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val url = "jdbc:derby:memory:graftsink;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE window_totals (
        |  wstart TIMESTAMP NOT NULL, event_type VARCHAR(64) NOT NULL,
        |  n BIGINT, sum_value DOUBLE, PRIMARY KEY (wstart, event_type))""".stripMargin)
    conn.close()

    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("ts", "user_id", "event_type", "value")
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc-upsert-ckpt").toString
    val base = Timestamp.valueOf("2025-01-01 00:00:00")
    def ev(i: Int) = (new Timestamp(base.getTime + i * 60000L), (i % 7).toLong,
      s"type_${i % 3}", i.toDouble)

    val q = Streams.startJdbcUpsert(
      Streams.tumblingCounts(streamDf), url, "window_totals", ckpt)
    try {
      // batch 1, then batch 2 UPDATING the same windows — update-mode
      // re-emits those keys and the sink must overwrite, not append
      mem.addData((0 until 60).map(ev))
      q.processAllAvailable()
      mem.addData((60 until 100).map(ev))
      q.processAllAvailable()
    } finally q.stop()

    // replay robustness: re-apply the LAST micro-batch's rows by hand — the
    // delete+insert upsert must leave the table unchanged
    val lastBatch = Streams.tumblingCounts(
      (0 until 100).map(ev).toDF("ts", "user_id", "event_type", "value"))
    Streams.upsertByKey(lastBatch, url, "window_totals")

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "window_totals").load()
    val expected = lastBatch
    assert(back.count() == expected.count())
    assert(back.except(expected).count() == 0 && expected.except(back).count() == 0,
      "JDBC table must equal the batch aggregate of all events")
  }

  test("stream_dedup: kept+dropped partition arrivals; keep-first within the hour") {
    val rows = graft.ops.StreamingShaped.qStreamDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "date_trunc('hour', ts)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2).toString))
    val byType = ev.groupBy(_._2)
    rows.foreach { case (t, kept, dropped) =>
      val g = byType(t)
      val groups = g.groupBy(e => (e._1, e._3)).values.toSeq
      assert(kept == groups.length.toLong)
      assert(dropped == groups.map(_.length.toLong - 1).sum)
      assert(kept + dropped == g.length.toLong)
    }
    assert(rows.map(x => x._2 + x._3).sum == ev.length.toLong)
  }
}
