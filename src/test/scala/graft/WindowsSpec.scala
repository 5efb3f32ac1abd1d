package graft

import graft.ops.Windows
import org.apache.spark.sql.functions._

class WindowsSpec extends SparkSpec {

  test("cumsum final value per user equals the user's total") {
    val cums = Windows.qWinCumsum(spark, sf)
    val last = cums.groupBy("user_id").agg(max("running_total").as("final"))
    val totals = Tables.events(spark, sf).groupBy("user_id")
      .agg(round(sum("value"), 4).as("total"))
    // running totals are rounded per row, so allow small drift
    val bad = last.join(totals, "user_id")
      .filter(abs(col("final") - col("total")) > 0.01)
    assert(bad.count() == 0)
  }

  test("lag delta of first event per user equals its value") {
    // first event per user under the window's own order (ts, event_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val firstEvents = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("v0"))
    val joined = Windows.qWinLag(spark, sf)
      .join(firstEvents, Seq("user_id", "event_id"))
    assert(joined.count() > 0)
    // lag(prev) is NULL for the first row, coalesced to 0 → delta == value
    assert(joined.filter(abs(col("delta") - col("v0")) > 1e-9).count() == 0)
  }

  test("latest per user is unique") {
    val df = Windows.qWinLatest(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("topk per group keeps <= 3 rows per nation, descending balances") {
    val df = Windows.qTopkPerGroup(spark, sf)
    assert(df.groupBy("c_nationkey").count().filter(col("count") > 3).count() == 0)
    val viol = df.withColumn("prev",
        lag("c_acctbal", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("c_nationkey").orderBy("rn")))
      .filter(col("prev").isNotNull && col("prev") < col("c_acctbal"))
    assert(viol.count() == 0)
  }

  test("ntile assigns 1..4 per segment") {
    val q = Windows.qWinNtile(spark, sf).select("quartile").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(q.sameElements(Array(1, 2, 3, 4)))
  }

  test("range frame counts exactly the trailing hour, rows-frame cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val d = java.nio.file.Files.createTempDirectory("winrange").toString
    // events at 10:00, 10:30, 10:59, 12:00 — the 10:59 row sees all three
    // in its trailing hour; the 12:00 row sees only itself
    Seq(
      (1L, t("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 10:30:00"), 7L, "view", 2.0, "{}"),
      (3L, t("2024-01-01 10:59:00"), 7L, "view", 4.0, "{}"),
      (4L, t("2024-01-01 12:00:00"), 7L, "view", 8.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", (unix_micros(col("ts")) * 1000).as("ts"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = graft.ops.Windows.qWinRange(spark, d).collect()
      .map(x => x.getLong(1) -> ((x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((1L, 1.0)))
    assert(r(2L) == ((2L, 3.0)))
    assert(r(3L) == ((3L, 7.0)), "10:00 is exactly 59min before 10:59 — in range")
    assert(r(4L) == ((1L, 8.0)), "12:00 trails back only to 11:00 — alone")
  }

  test("revenue shares sum to 1 within each flag and across the table") {
    val rows = graft.ops.Windows.qWinShare(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "grand shares sum to 1")
    rows.groupBy(_._1).foreach { case (flag, g) =>
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-4, s"flag $flag shares sum to 1")
    }
    assert(rows.forall(r => r._3 > 0 && r._3 <= 1.0 && r._4 > 0 && r._4 <= 1.0))
  }

  test("percent_rank/cume_dist are in [0,1], monotone, and rank-consistent") {
    val rows = Windows.qWinDist(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pr, cd) = (r.getDouble(2), r.getDouble(3))
      assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
    }
    // within a group, both are nondecreasing in rn (ascending value order)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getInt(4))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(2) <= b.getDouble(2) && a.getDouble(3) <= b.getDouble(3))
        case _ => ()
      }
    }
    // the first row of each ascending group is percent_rank 0
    rows.filter(_.getInt(4) == 1).foreach(r => assert(r.getDouble(2) == 0.0))
  }

  test("running distinct count ends at the true distinct count and never decreases") {
    val rows = Windows.qWinCountDistinct(spark, sf).collect()
    val byType = rows.groupBy(_.getString(1))
    val truth = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { case (tpe, g) =>
      val counts = g.map(_.getLong(2))
      assert(counts.max == truth(tpe), s"final running count = exact distinct for $tpe")
      assert(counts.min >= 1)
    }
  }

  test("win_slope recovers a planted linear trend exactly, full frames only") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = java.nio.file.Files.createTempDirectory("slope").toString
    // one event per day, value 10·i on day i (Jan 1 = day 1): a perfectly
    // linear series whose 7-day OLS slope is exactly 10.0/day everywhere
    val rows = (1 to 10).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-$i%02d 12:00:00"), 1L, "view",
        10.0 * i, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", (unix_micros(col("ts")) * 1000).as("ts"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Windows.qWinSlope(spark, d).collect()
    assert(out.length == 4, "10 days yield exactly 4 full 7-day frames")
    out.foreach { r =>
      assert(r.getAs[Double]("slope") == 10.0,
        s"linear series must give slope exactly 10, got ${r.getAs[Double]("slope")}")
    }
    assert(out.map(_.getDate(1).toString).toSet ==
      Set("2024-01-07", "2024-01-08", "2024-01-09", "2024-01-10"))
  }

  test("rolling median and ewma match brute-force per-user computations") {
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts").cast("string"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(e => (e._3, e._2))).toMap

    val med = Windows.qWinMedian(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ewma = Windows.qEwma(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    events.foreach { case (user, seq) =>
      seq.zipWithIndex.foreach { case ((_, eid, _, _), idx) =>
        val frame15 = seq.slice(math.max(0, idx - 14), idx + 1).map(_._4)
        val sorted = frame15.sorted
        val want = sorted((sorted.length + 1) / 2 - 1)
        assert(med((user, eid)) == math.floor(want * 10000 + 0.5) / 10000 ||
          med((user, eid)) == BigDecimal(want).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          s"median user=$user eid=$eid")
        val frame16 = seq.slice(math.max(0, idx - 15), idx + 1)
          .map(e => math.round(e._4 * 100).toDouble)
        val s = frame16.length
        val wantE = frame16.zipWithIndex
          .map { case (c, i) => c * math.pow(2.0, -(s - i)) }.sum / 100.0
        assert(ewma((user, eid)) == wantE, s"ewma user=$user eid=$eid")
      }
    }
  }

  test("first/last/nth over the full frame match the sorted segment order") {
    val rows = Windows.qWinFirstLast(spark, sf).collect()
    val orders = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderdate").cast("string"), col("o_orderkey"))
      .collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getString(1), r.getLong(2)))
        .sortBy(identity).map(_._2)).toMap
    assert(rows.length == orders.size, "one collapsed row per segment")
    rows.foreach { r =>
      val seq = orders(r.getString(0))
      assert(r.getLong(1) == seq.head, "first_value = argmin by (date, key)")
      assert(r.getLong(2) == seq.last, "last_value = argmax (full frame, not running)")
      assert(r.getLong(3) == seq(2), "nth_value(3)")
    }
  }

  test("rolling_corr: 14-day Pearson replays from exact BigInt frame sums") {
    val rows = Windows.qRollingCorr(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("event_type"), col("d")).agg(sum(col("vc")).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val a = daily.filter(_._1 == "click").map(t => t._2 -> t._3).toMap
    val b = daily.filter(_._1 == "view").map(t => t._2 -> t._3).toMap
    val days = (a.keySet & b.keySet).toSeq.sorted
    val expect = days.indices.filter(_ >= 13).flatMap { i =>
      val frame = days.slice(i - 13, i + 1)
      val xs = frame.map(d => BigInt(a(d))); val ys = frame.map(d => BigInt(b(d)))
      val n = BigInt(14)
      val (sa, sb) = (xs.sum, ys.sum)
      val sab = xs.zip(ys).map { case (x, y) => x * y }.sum
      val va = n * xs.map(x => x * x).sum - sa * sa
      val vb = n * ys.map(y => y * y).sum - sb * sb
      if (va > 0 && vb > 0) {
        val corr = (n * sab - sa * sb).toDouble /
          (math.sqrt(va.toDouble) * math.sqrt(vb.toDouble))
        Some(days(i) -> corr)
      } else None
    }.toMap
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val c = expect(r.getDate(0).toString)
      assert(math.abs(r.getDouble(3) - c) < 1e-6, s"corr at ${r.getDate(0)}")
      assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("skyline: survivors are exactly the non-dominated parts (brute force)") {
    val rows = graft.ops.Windows.qSkyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("p_partkey", "CAST(round(p_retailprice*100) AS BIGINT)", "CAST(p_size AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(x: (Long, Long, Long)) = parts.exists(y =>
      y._2 <= x._2 && y._3 >= x._3 && (y._2 < x._2 || y._3 > x._3))
    val want = parts.filterNot(dominated).sortBy(p => (p._2, p._1))
    assert(rows.toSeq == want.toSeq)
  }

  // Windows.chunkedRunningSums against the plain single-window expression
  // it replaces, on small generated frames (p, o, id, v). Each frame is
  // checked with a partition key and without, for two sums at once: a rank
  // (the sum of 1) and a running sum of a nullable value.

  private type GenRow = (String, Option[String], Option[Int], Long, Option[Long])

  private def checkAgainstPlainWindow(rows: Seq[GenRow], width: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = rows.toDF("case", "p", "o", "id", "v")
      .withColumn("chunk", floor(col("o") / lit(width)))
    for (part <- Seq(Seq("case", "p"), Seq("case"))) {
      val order = Seq(col("o"), col("id"))
      def pick(d: org.apache.spark.sql.DataFrame) =
        d.select(col("case"), col("id"), col("rk"), col("s"), col("rk_total"), col("s_total"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> (2 until 6).map(i => Option(r.get(i))))
          .toMap
      val got = pick(graft.ops.Windows.chunkedRunningSums(df, part, "chunk", order,
        "rk" -> lit(1L), "s" -> col("v")))
      val running = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(part.map(col): _*)
      val want = pick(df
        .withColumn("rk", sum(lit(1L)).over(running))
        .withColumn("s", sum(col("v")).over(running))
        .withColumn("rk_total", sum(lit(1L)).over(whole))
        .withColumn("s_total", sum(col("v")).over(whole)))
      assert(got.size == rows.size, s"rows lost under partitionBy $part")
      assert(got == want, s"partitionBy $part: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  private def frame(name: String, seed: Long, n: Int)(
      gen: scala.util.Random => (Option[String], Option[Int], Option[Long])): Seq[GenRow] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i => val (p, o, v) = gen(rnd); (name, p, o, i.toLong, v) }
  }

  test("chunkedRunningSums = plain window: ties at chunk boundaries, negative values, floor chunks") {
    // order values sit on and next to multiples of the width, many tied
    val ties = frame("ties", 11, 60) { r =>
      (Some(s"g${r.nextInt(2)}"), Some(10 * r.nextInt(4) + r.nextInt(3) - 1),
        Some(r.nextInt(100).toLong)) }
    // negative order values: floor (not truncation) keeps chunks ordered
    val negative = frame("negative", 12, 60) { r =>
      (Some(s"g${r.nextInt(3)}"), Some(r.nextInt(101) - 50),
        Some(r.nextInt(201).toLong - 100)) }
    checkAgainstPlainWindow(ties, 10)
    checkAgainstPlainWindow(negative, 7)
  }

  test("chunkedRunningSums = plain window: empty frame, single-row groups, NULL values") {
    checkAgainstPlainWindow(Nil, 5)
    val singles = (0 until 6).map(i =>
      ("single", Some(s"s$i"), Some(i * 13 - 30), i.toLong, Some(i.toLong * 7)))
    val nullValues = frame("null_v", 13, 40) { r =>
      (Some(s"g${r.nextInt(2)}"), Some(r.nextInt(30)),
        if (r.nextInt(3) == 0) None else Some(r.nextInt(50).toLong)) }
    checkAgainstPlainWindow(singles ++ nullValues, 5)
  }

  test("chunkedRunningSums = plain window: NULL order key and NULL partition key") {
    // a NULL order key makes a NULL chunk; both sort first, as Spark orders
    val nulls = frame("null_keys", 14, 60) { r =>
      (if (r.nextInt(4) == 0) None else Some(s"g${r.nextInt(2)}"),
        if (r.nextInt(5) == 0) None else Some(r.nextInt(40) - 10),
        Some(r.nextInt(100).toLong)) }
    checkAgainstPlainWindow(nulls, 6)
  }
}
