package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.2): the reference's covid table is
  * window-shaped time-series — `new_confirmed` is a lag-delta,
  * `last_available_confirmed` a running total, `order_for_place` a per-key
  * rank (all caso_full columns). Re-expressed over `events`
  * (user_id, ts, value) and the customer/orders tables.
  *
  * Scale notes: a window partitioned by a key is ONE shuffle on that key,
  * then a per-partition sort — no cross-partition coordination. Every window
  * below either partitions by a high-cardinality key (user_id/custkey/
  * nation) so work distributes evenly at 100 TB, or — where the natural key
  * is low-cardinality (event_type) — runs a TWO-PHASE plan (salted local
  * top-k for [[qWinRank]]/[[qWinDist]], day-chunked prefix sums for
  * [[qWinCountDistinct]]) so no task ever owns a whole key's history; never
  * define a window without partitionBy (single-partition global sort).
  * Frames are ROWS-bounded
  * (streaming evaluation, O(1) memory per row except movavg's k-row buffer).
  * Every ORDER BY carries a unique tie-break column so results are
  * deterministic across engines.
  */
object Windows extends QueryModule {

  /** Exact running sums over groups too large for one task. For each
    * `(name, v)` in `sums` the result gains two columns:
    *   - `name` = `sum(v) OVER (PARTITION BY partitionBy ORDER BY orderBy
    *     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`;
    *   - `name_total` = `sum(v) OVER (PARTITION BY partitionBy)`.
    * A rank is the running sum of `lit(1)`; an exclusive sum is `name − v`.
    *
    * Preconditions, both the caller's:
    *   - `chunk` (the name of a column of `df`) does not decrease along
    *     `orderBy`, NULL first as Spark sorts it — e.g. a floor of the
    *     leading order key, negated for a descending key;
    *   - `orderBy` is a total order within each partition.
    *
    * A window partitioned only by a low-cardinality key streams a whole
    * group through one task, and with no key the whole table. Instead the
    * group splits into chunks, in two phases:
    *   1. one row per (partition, chunk) holds that chunk's sums; a window
    *      over this small table gives each chunk the sum of the chunks
    *      before it, and the group total;
    *   2. a running window partitioned by (partition, chunk) sums within
    *      the chunk, and the table, broadcast back, adds the chunk's offset.
    * No task holds more than one chunk of one group. The broadcast join
    * matches the keys with `<=>`, so rows with a NULL partition key or
    * chunk keep their place. `df` is read twice (the chunk table and the
    * rows): checkpoint it first when it is costly to derive. */
  private[graft] def chunkedRunningSums(df: DataFrame, partitionBy: Seq[String],
      chunk: String, orderBy: Seq[Column], sums: (String, Column)*): DataFrame =
    chunkedRunningSumsOf(df, df, partitionBy, chunk, orderBy, sums)

  /** [[chunkedRunningSums]] over the rows of `df`, with the chunk table
    * summed over `chunkRows`: a frame with the same rows, chunk and sum
    * values as `df` but a shorter plan. A second ranking chained on a
    * first passes the frame the first one started from, so its chunk
    * table does not read through the first ranking's broadcast join. */
  private[graft] def chunkedRunningSumsOf(df: DataFrame, chunkRows: DataFrame,
      partitionBy: Seq[String], chunk: String, orderBy: Seq[Column],
      sums: Seq[(String, Column)]): DataFrame = {
    val keys = partitionBy :+ chunk
    val names = sums.map(_._1)
    val chunkSums = sums.map { case (n, v) => sum(v).as(s"_cs_$n") }
    val byChunk = Window.partitionBy(partitionBy.map(col): _*).orderBy(col(chunk))
    val offsets = chunkRows.groupBy(keys.map(col): _*).agg(chunkSums.head, chunkSums.tail: _*)
      .select(keys.map(k => col(k).as(s"_k_$k")) ++ names.flatMap { n => Seq(
        sum(col(s"_cs_$n")).over(byChunk.rowsBetween(Window.unboundedPreceding, -1))
          .as(s"_off_$n"),
        sum(col(s"_cs_$n")).over(
          byChunk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as(s"${n}_total")) }: _*)
    val inChunk = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // window before join: the rows' shuffle does not wait for the broadcast
    val joined = sums.foldLeft(df) { case (t, (n, v)) => t.withColumn(n, sum(v).over(inChunk)) }
      .join(broadcast(offsets), keys.map(k => col(k) <=> col(s"_k_$k")).reduce(_ && _))
      .drop(keys.map(k => s"_k_$k"): _*)
    names.foldLeft(joined) { (t, n) =>
        // NULL only where the plain window is NULL: no non-NULL value yet
        val (off, in) = (col(s"_off_$n"), col(n))
        t.withColumn(n, coalesce(off + in, off, in))
      }
      .drop(names.map(n => s"_off_$n"): _*)
  }

  /** Salt-bucket count for the two-phase top-k windows below: the local
    * phase shuffles on (group, salt) so no task ever owns more than 1/64th
    * of a group's rows, whatever the group's size. */
  private val TopkSalts = 64L

  /** Ranking trio per group (≙ order_for_place), TWO-PHASE because
    * `event_type` has a handful of values: a window partitioned only by it
    * would hand one task an entire type's history at 100×. Phase 1 salts
    * each row by hash(event_id) mod 64 and keeps the local top-100 per
    * (event_type, salt) — provably a superset of the global top-100, since
    * a row with global row_number ≤ 100 has ≤ 99 predecessors in the
    * (value desc, event_id) total order, hence ≤ 99 within its own salt.
    * Phase 2 runs the real window over ≤ 64·100 candidate rows per type.
    * rank/dense_rank survive the filter exactly: every row strictly
    * greater than a kept row is itself in the global prefix, so the
    * candidate set contains all rows those functions count. */
  def qWinRank(spark: SparkSession, dir: String): DataFrame = {
    val wLocal = Window.partitionBy(col("event_type"), col("salt"))
      .orderBy(col("value").desc, col("event_id"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("value").desc)
    Tables.events(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(TopkSalts)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= 100)
      .select(col("event_type"), col("event_id"), round(col("value"), 4).as("value"),
        row_number().over(w).as("rn"),
        rank().over(wt).as("rnk"),
        dense_rank().over(wt).as("drnk"))
      .filter(col("rn") <= 100)
      .orderBy(col("event_type"), col("rn"))
  }

  /** Lag-delta: new = value − previous value per user (new_confirmed shape). */
  def qWinLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(col("value") - coalesce(lag(col("value"), 1).over(w), lit(0.0)), 4)
          .as("delta"))
  }

  /** Running total per user (last_available_confirmed shape). */
  def qWinCumsum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 4).as("running_total"))
  }

  /** 7-row moving average per user (7-day epidemiological smoothing shape). */
  def qWinMovavg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(avg(col("value")).over(w), 4).as("movavg7"))
  }

  /** Time-RANGE frame: per user, the trailing-1-hour event count and value
    * sum at every event — the "sliding metric" window a rows-frame cannot
    * express (rows ≠ time when event density varies). The frame orders on
    * epoch-micros; RANGE includes all peers of the current timestamp on
    * both engines, so same-microsecond ties need no tie-break column. The
    * sum is exact BIGINT cents (order-independent — a double sum would
    * depend on each engine's sliding-frame accumulation order). */
  def qWinRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_trail"),
        (sum(col("vc")).over(w).cast("double") / 100.0).as("sum_trail"))
  }

  /** Latest row per key (is_last snapshot semantics; core of q_asof). */
  def qWinLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy(col("user_id"))
  }

  /** Quartiles + percent_rank of customers per market segment. */
  def qWinNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
  }

  /** Top-3 customers by balance per nation: the scalable top-k-per-group —
    * one shuffle on the group key, per-partition sort, early filter. */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** The same top-3-per-nation contract executed by the engine's custom
    * physical operator ([[graft.plans.TopKPerGroup]]: bounded per-group
    * heaps, O(n log k), state ∝ groups·k) instead of the window's full
    * per-group sort — the whole-operator extension tier, oracle-verified
    * against the identical SQL as the window form. */
  def qTopkPerGroupNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerGroup(
      Tables.customer(spark, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
      groupCols = Seq("c_nationkey"),
      order = Seq("c_acctbal" -> true, "c_custkey" -> false), k = 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rn"))

  /** Distribution functions: percent_rank / cume_dist per group — the
    * percentile-position twins of the ranking trio. Both are rationals of
    * ranks and exact counts, so they reduce to integer facts we can get
    * WITHOUT an event_type-only window over the full table (which would
    * give one task a whole type's history at 100×):
    *
    *   percent_rank = (rank − 1) / (N − 1)      rank = 1 + #{value < v}
    *   cume_dist    = (rank − 1 + peers) / N    peers = #{value = v}
    *
    * Phase 1 keeps the salted local bottom-100 per (event_type, salt) — a
    * superset of the global bottom-100 (same pigeonhole argument as
    * [[qWinRank]]) — and `rank` computed on that candidate set equals the
    * global rank, because every strictly-smaller row is itself in the
    * global prefix. Phase 2 gets N from a 5-row groupBy and the peer
    * counts from a hash-agg over only the rows matching candidate values
    * (semi-join first, so the agg never shuffles the full table), then
    * assembles both functions arithmetically. Ties on `value` collapse to
    * the same rank in both engines, so no tie-break is needed for the
    * VALUES; event_id makes row identity deterministic. */
  def qWinDist(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wLocal = Window.partitionBy(col("event_type"), col("salt"))
      .orderBy(col("value"), col("event_id"))
    val cand = ev
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(TopkSalts)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= 100)
      .select(col("event_type"), col("event_id"), col("value"))
    val nByType = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
    val candVals = cand.select(col("event_type"), col("value")).distinct()
    val peers = ev.join(broadcast(candVals), Seq("event_type", "value"), "left_semi")
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("n_peers"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("value"))
    cand
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(wt))
      .filter(col("rn") <= 100)
      .join(broadcast(peers), Seq("event_type", "value"))
      .join(broadcast(nByType), Seq("event_type"))
      .select(col("event_type"), col("event_id"),
        round((col("rnk") - 1).cast("double") / (col("n_total") - 1).cast("double"), 6)
          .as("pct_rank"),
        round((col("rnk") - 1 + col("n_peers")).cast("double") / col("n_total").cast("double"), 6)
          .as("cume"),
        col("rn"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** Ratio-to-report: each (returnflag, linestatus) cell's revenue as a
    * share of its flag group and of the grand total. The fact table
    * aggregates FIRST (exact DECIMAL cent sums — one shuffle); the share
    * windows then run over the tiny group table, and their unordered-frame
    * sums stay in DECIMAL, so partition merge order cannot perturb them —
    * doubles appear only for the final division (deterministic given exact
    * integer inputs). */
  def qWinShare(spark: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.lineitem(spark, dir)
      .withColumn("pc", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pc").cast("decimal(38,0)")).as("sp"))
    val wFlag = Window.partitionBy(col("l_returnflag"))
    val wAll  = Window.partitionBy()
    grouped
      .withColumn("flag_total", sum(col("sp")).over(wFlag))
      .withColumn("grand_total", sum(col("sp")).over(wAll))
      .select(col("l_returnflag"), col("l_linestatus"),
        expr("CAST(sp AS DOUBLE) / 100.0").as("revenue"),
        round(expr("CAST(sp AS DOUBLE) / CAST(flag_total AS DOUBLE)"), 6).as("share_flag"),
        round(expr("CAST(sp AS DOUBLE) / CAST(grand_total AS DOUBLE)"), 6).as("share_total"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** first_value / last_value / nth_value over an explicit full-partition
    * frame: per market segment, the earliest, latest, and third order (by
    * date, orderkey-tie-broken). The frame MUST be spelled out — the SQL
    * default (RANGE UNBOUNDED PRECEDING .. CURRENT ROW) makes last_value a
    * running value, the classic silent-wrong-answer. Every row in a segment
    * then carries identical values, so distinct collapses to one row per
    * segment and the shuffle output is tiny. */
  def qWinFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      .select(col("c_mktsegment"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 3).over(w).as("third_order"),
        round(first(col("o_totalprice")).over(w), 2).as("first_price"))
      .distinct()
      .orderBy(col("c_mktsegment"))
  }

  /** Running COUNT(DISTINCT) over a window — which Spark (and standard SQL
    * engines generally) refuse as a window aggregate — via the two-window
    * rewrite: mark each user's FIRST occurrence within the event type
    * (row_number over (type, user) = 1), then running-sum the markers.
    *
    * The running sum goes through [[chunkedRunningSums]], chunked by day
    * bucket (a function of ts, so bucket order agrees with ts order),
    * because event_type has a handful of values: every task is bounded by
    * one day of one type. */
  def qWinCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // checkpointed: the chunk table AND the running window both consume
    // this frame, and Catalyst has no cross-branch reuse — the plan
    // showed the whole scan→window subtree planted twice (once under
    // the broadcast side), doubling the stage work
    val marked = Materialize.shared(Tables.events(spark, dir)
      .withColumn("is_first", when(row_number().over(wUser) === 1, 1L).otherwise(0L))
      .withColumn("bucket", date_trunc("day", col("ts"))))
    chunkedRunningSums(marked, Seq("event_type"), "bucket", Seq(col("ts"), col("event_id")),
        "distinct_users_so_far" -> col("is_first"))
      .select(col("event_id"), col("event_type"), col("distinct_users_so_far"))
  }

  /** Trailing-15-row exact rolling median per user: the frame's values as a
    * window collect_list, sorted, lower-median element picked by index. No
    * arithmetic touches the values (the median IS a data value), so the
    * pick is bit-exact cross-engine. Bounded frame ⇒ bounded row state —
    * this is safe at any scale, unlike an unbounded collect. */
  def qWinMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-14, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
      .select(col("user_id"), col("event_id"),
        // `div`, not `/`-then-cast: Spark's cast truncates but DuckDB's
        // rounds half-even, so only explicit floor division agrees
        round(expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))"), 4)
          .as("rolling_median"))
  }

  /** Trailing-16 exponentially weighted moving average in EXACT dyadic
    * arithmetic: α = 1/2, so the k-th newest value carries weight 2^(−k−1)
    * — an exact power of two. Values are integer cents (≤ 2^21), weights
    * shift them down at most 16 bits, so every term and every partial sum
    * fits a double's 53-bit mantissa EXACTLY: the float result is
    * order-independent and cross-engine-identical, which no α ∉ {2^-k}
    * EWMA can claim. The truncation to 16 taps bounds both the state and
    * the error (2^-17 of the scale). */
  def qEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("arr", collect_list(col("cents")).over(w))
      .select(col("user_id"), col("event_id"),
        expr(
          """aggregate(
            |  transform(arr, (x, i) -> CAST(x AS DOUBLE) * pow(2.0, -(size(arr) - i))),
            |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 100.0""".stripMargin)
          .as("ewma"))
  }

  /** Rolling 7-day OLS trend slope of each event type's daily value total —
    * the local "is this metric rising" primitive a monitoring pipeline
    * computes per series (the global fit is [[Aggregations.qRegr]]; this is
    * its windowed sibling). The closed form
    * slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) runs on exact integers: x is
    * the epoch day, y the exact cent sum, and all five trailing-frame sums
    * stay far below 2^53, so the ONE final division produces bit-identical
    * doubles in both engines. Only full 7-day frames are emitted, which
    * also keeps the denominator structurally non-zero (7 distinct x).
    *
    * Scale shape: the per-(type, day) rollup is one map-side-combinable
    * shuffle of the raw events; every window then runs over the DAILY
    * table, whose per-type partition is bounded by the calendar span, not
    * event volume — the same bounded-window argument as
    * [[EventAnalytics.qInterpolate]], and all five sums share one frame in
    * one Window operator. */
  def qWinSlope(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("yc"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("yc")).as("y"))
      .withColumn("x", unix_date(col("d")))
      // all five sums in ONE select → one Window operator (successive
      // withColumns interleave Projects that block CollapseWindow)
      .select(col("event_type"), col("d"), col("y"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(expr("x * y")).over(w).as("sxy"),
        sum(expr("x * x")).over(w).as("sxx"))
      .filter(col("n") === 7)
      .select(col("event_type"), col("d"),
        (col("y").cast("double") / 100.0).as("daily_sum"),
        expr("CAST(n * sxy - sx * sy AS DOUBLE) / CAST((n * sxx - sx * sx) * 100 AS DOUBLE)")
          .as("slope"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Rolling 14-day Pearson correlation between the click and view daily
    * cent series — the "are these two metrics still moving together"
    * monitor ([[Aggregations.qRegr]] fits one global line; [[qWinSlope]]
    * tracks one series' local slope; this tracks a PAIR's local
    * co-movement). All five trailing-frame sums are exact DECIMAL(38,0)
    * (daily cent sums squared overflow BIGINT at sf0.1 already), the
    * variance terms n·Σxx−(Σx)² are exact integers whose positivity is
    * checked by INTEGER compare (a zero-variance window must be excluded
    * before any division — a float NaN here diverges between engines),
    * and the one output expression divides the exact numerator by
    * sqrt(va)·sqrt(vb) — each sqrt on an exactly-cast operand, so both
    * engines produce bit-identical doubles. Full 14-day frames only.
    *
    * Scale shape: two filtered slices of the per-(type, day) rollup
    * (map-side combined, one shuffle) join on the date spine; the window
    * runs UNPARTITIONED but over the joined DAILY series — rows bounded
    * by calendar span (365/yr), never event volume, the
    * [[EventAnalytics.qInterpolate]] argument — and all five sums share
    * one frame in one Window operator. */
  def qRollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("vc")).as("y"))
    val a = daily.filter(col("event_type") === "click")
      .select(col("d"), col("y").as("ya"))
    val b = daily.filter(col("event_type") === "view")
      .select(col("d"), col("y").as("yb"))
    val w = Window.orderBy(col("d")).rowsBetween(-13, Window.currentRow)
    a.join(b, "d")
      .select(col("d"), col("ya"), col("yb"),
        count(lit(1)).over(w).as("n"),
        sum(col("ya").cast("decimal(38,0)")).over(w).as("sa"),
        sum(col("yb").cast("decimal(38,0)")).over(w).as("sb"),
        sum(expr("CAST(ya AS DECIMAL(38,0)) * yb")).over(w).as("sab"),
        sum(expr("CAST(ya AS DECIMAL(38,0)) * ya")).over(w).as("saa"),
        sum(expr("CAST(yb AS DECIMAL(38,0)) * yb")).over(w).as("sbb"))
      .filter(col("n") === 14)
      .withColumn("va", expr("n * saa - sa * sa"))
      .withColumn("vb", expr("n * sbb - sb * sb"))
      .filter(col("va") > 0 && col("vb") > 0)
      .select(col("d"),
        (col("ya").cast("double") / 100.0).as("click_sum"),
        (col("yb").cast("double") / 100.0).as("view_sum"),
        round(expr(
          """CAST(n * sab - sa * sb AS DOUBLE)
            | / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE)))""".stripMargin), 6)
          .as("corr14"))
      .orderBy(col("d"))
  }

  /** Skyline (Pareto frontier) of the part catalog — minimize retail price,
    * maximize size: a part survives iff nothing is both cheaper-or-equal
    * and bigger-or-equal with one strict. Classic multi-objective OLAP
    * (Börzsönyi et al., ICDE 2001), decomposed so no operator ever owns a
    * corpus-sized total order: dominance only depends on the DISTINCT-PRICE
    * profile — bs(p) = max size at price p (map-side-combinable rollup,
    * cardinality bounded by the price DOMAIN, not the corpus) and
    * pm(p) = max size at any strictly cheaper price (one prefix-max window
    * over that domain-bounded profile). A row survives iff
    * sz = bs(pc) AND sz > pm(pc) (ties at the same (price, size) point
    * dominate nothing strictly, so they all survive — same in both
    * engines). The profile then BROADCASTS (domain-bounded, not a corpus
    * fraction) back onto the base scan: one map-only filter, no self-join,
    * no per-row window. */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("pc"),
        col("p_size").cast("long").as("sz"))
    val prof = p.groupBy(col("pc")).agg(max(col("sz")).as("bs"))
      .withColumn("pm", max(col("bs")).over(
        Window.orderBy(col("pc")).rowsBetween(Window.unboundedPreceding, -1)))
    p.join(broadcast(prof), "pc")
      .filter(col("sz") === col("bs") && (col("pm").isNull || col("sz") > col("pm")))
      .select(col("p_partkey"), col("pc"), col("sz"))
      .orderBy(col("pc"), col("p_partkey"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_skyline" -> (qSkyline _,
      """WITH p AS (
        |  SELECT p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS pc,
        |         CAST(p_size AS BIGINT) AS sz
        |  FROM part),
        |prof AS (
        |  SELECT pc, MAX(sz) AS bs,
        |         MAX(MAX(sz)) OVER (ORDER BY pc
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM p GROUP BY pc)
        |SELECT p.p_partkey, p.pc, p.sz
        |FROM p JOIN prof ON p.pc = prof.pc
        |WHERE p.sz = prof.bs AND (prof.pm IS NULL OR p.sz > prof.pm)
        |ORDER BY p.pc, p.p_partkey""".stripMargin),
    "q_rolling_corr" -> (qRollingCorr _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT a.d, a.y AS ya, b.y AS yb
        |  FROM daily a JOIN daily b ON a.d = b.d
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |f AS (
        |  SELECT d, ya, yb,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(CAST(ya AS HUGEINT)) OVER w AS HUGEINT) AS sa,
        |    CAST(SUM(CAST(yb AS HUGEINT)) OVER w AS HUGEINT) AS sb,
        |    CAST(SUM(CAST(ya AS HUGEINT) * yb) OVER w AS HUGEINT) AS sab,
        |    CAST(SUM(CAST(ya AS HUGEINT) * ya) OVER w AS HUGEINT) AS saa,
        |    CAST(SUM(CAST(yb AS HUGEINT) * yb) OVER w AS HUGEINT) AS sbb
        |  FROM j
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |v AS (
        |  SELECT *, n * saa - sa * sa AS va, n * sbb - sb * sb AS vb
        |  FROM f WHERE n = 14)
        |SELECT d, CAST(ya AS DOUBLE) / 100.0 AS click_sum,
        |       CAST(yb AS DOUBLE) / 100.0 AS view_sum,
        |       ROUND(CAST(n * sab - sa * sb AS DOUBLE)
        |             / (SQRT(CAST(va AS DOUBLE)) * SQRT(CAST(vb AS DOUBLE))), 6) AS corr14
        |FROM v WHERE va > 0 AND vb > 0
        |ORDER BY d""".stripMargin),
    "q_win_slope" -> (qWinSlope _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |xy AS (
        |  SELECT event_type, d, y,
        |         DATE_DIFF('day', DATE '1970-01-01', d) AS x FROM daily),
        |f AS (
        |  SELECT event_type, d, y,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(x) OVER w AS BIGINT) AS sx,
        |    CAST(SUM(y) OVER w AS BIGINT) AS sy,
        |    CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
        |  FROM xy
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, CAST(y AS DOUBLE) / 100.0 AS daily_sum,
        |       CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST((n * sxx - sx * sx) * 100 AS DOUBLE) AS slope
        |FROM f WHERE n = 7
        |ORDER BY event_type, d""".stripMargin),
    "q_win_median" -> (qWinMedian _,
      """WITH t AS (
        |  SELECT user_id, event_id,
        |         LIST_SORT(ARRAY_AGG(value) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id
        |           ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM events)
        |SELECT user_id, event_id,
        |       ROUND(arr[CAST((LEN(arr) + 1) // 2 AS INT)], 4) AS rolling_median
        |FROM t ORDER BY user_id, event_id""".stripMargin),
    "q_ewma" -> (qEwma _,
      """WITH t AS (
        |  SELECT user_id, event_id,
        |         ARRAY_AGG(CAST(ROUND(value * 100) AS BIGINT)) OVER (
        |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        |  FROM events)
        |SELECT user_id, event_id,
        |       LIST_SUM(LIST_TRANSFORM(arr,
        |         (x, i) -> CAST(x AS DOUBLE) * POW(2.0, -(LEN(arr) - i + 1))))
        |         / 100.0 AS ewma
        |FROM t ORDER BY user_id, event_id""".stripMargin),
    "q_win_count_distinct" -> (qWinCountDistinct _,
      """WITH marked AS (
        |  SELECT event_id, event_type, ts,
        |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type, user_id
        |                                      ORDER BY epoch_us(ts), event_id) = 1
        |              THEN 1 ELSE 0 END AS is_first
        |  FROM events)
        |SELECT event_id, event_type,
        |       CAST(SUM(is_first) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
        |            AS BIGINT) AS distinct_users_so_far
        |FROM marked ORDER BY event_type, event_id""".stripMargin),
    "q_win_first_last" -> (qWinFirstLast _,
      """SELECT DISTINCT c_mktsegment,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS last_order,
        |  NTH_VALUE(o_orderkey, 3) OVER w AS third_order,
        |  ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment""".stripMargin),
    "q_win_rank" -> (qWinRank _,
      """SELECT event_type, event_id, ROUND(value, 4) AS value, rn, rnk, drnk
        |FROM (SELECT event_type, event_id, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn,
        |        RANK() OVER (PARTITION BY event_type ORDER BY value DESC) AS rnk,
        |        DENSE_RANK() OVER (PARTITION BY event_type ORDER BY value DESC) AS drnk
        |      FROM events) t
        |WHERE rn <= 100 ORDER BY event_type, rn""".stripMargin),
    "q_win_dist" -> (qWinDist _,
      """SELECT event_type, event_id, pct_rank, cume, rn
        |FROM (SELECT event_type, event_id,
        |        ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value), 6) AS pct_rank,
        |        ROUND(CUME_DIST() OVER (PARTITION BY event_type ORDER BY value), 6) AS cume,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn
        |      FROM events) t
        |WHERE rn <= 100 ORDER BY event_type, rn""".stripMargin),
    "q_win_lag" -> (qWinLag _,
      """SELECT user_id, event_id,
        |       ROUND(value - COALESCE(LAG(value, 1) OVER
        |         (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 0.0), 4) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    "q_win_cumsum" -> (qWinCumsum _,
      """SELECT user_id, event_id,
        |       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    "q_win_movavg" -> (qWinMovavg _,
      """SELECT user_id, event_id,
        |       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS movavg7
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    "q_win_share" -> (qWinShare _,
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |         SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sp
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |w AS (
        |  SELECT l_returnflag, l_linestatus, sp,
        |         SUM(sp) OVER (PARTITION BY l_returnflag) AS flag_total,
        |         SUM(sp) OVER () AS grand_total
        |  FROM g)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(sp AS DOUBLE) / 100.0 AS revenue,
        |       ROUND(CAST(sp AS DOUBLE) / CAST(flag_total AS DOUBLE), 6) AS share_flag,
        |       ROUND(CAST(sp AS DOUBLE) / CAST(grand_total AS DOUBLE), 6) AS share_total
        |FROM w ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_win_range" -> (qWinRange _,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events)
        |SELECT user_id, event_id,
        |       COUNT(*) OVER w AS n_trail,
        |       CAST(CAST(SUM(vc) OVER w AS BIGINT) AS DOUBLE) / 100.0 AS sum_trail
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    "q_win_latest" -> (qWinLatest _,
      """SELECT user_id, event_id, event_type, ROUND(value, 4) AS value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    "q_win_ntile" -> (qWinNtile _,
      """SELECT c_mktsegment, c_custkey,
        |       NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile,
        |       ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey), 6) AS pct_rank
        |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin),
    "q_topk_per_group" -> (qTopkPerGroup _,
      """SELECT c_nationkey, rn, c_custkey, c_acctbal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin),
    "q_topk_per_group_native" -> (qTopkPerGroupNative _,
      """SELECT c_nationkey, CAST(rn AS BIGINT) AS rn, c_custkey, c_acctbal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin),
  )
}
