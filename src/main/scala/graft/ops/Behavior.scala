package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer/session behavior analytics — the "consultas" tier one level up
  * from [[EventAnalytics]]'s event mechanics: co-occurrence mining over
  * baskets, the session transition matrix, and RFM segmentation. All three
  * are classic warehouse workloads (reference's lake exists to serve
  * exactly this class of downstream SQL — SURVEY.md §3.4), and all three
  * are exact-arithmetic so the DuckDB oracle verifies them hash-for-hash.
  */
object Behavior extends QueryModule {

  /** Market-basket association: support and lift for every part pair
    * co-purchased in one order (min pair support 3). The A-priori first
    * rung — "customers who bought X also bought Y" — and the input to any
    * recommender candidate generator.
    *
    * Scale shape: the pair generator is a self-equi-join on the
    * HIGH-cardinality l_orderkey (never on part), so the blowup per order
    * is C(items,2) with items bounded by order size (~7 in TPC-H-shaped
    * data) — linear in orders, one shuffle. The per-item count table grows
    * with |parts|, so it carries NO broadcast hint: AQE broadcasts it at
    * small scale and falls back to a hash join keyed on the pair columns
    * when the catalog outgrows the broadcast budget (forcing a broadcast
    * here is exactly the 100 TB OOM). The basket total N is genuinely one
    * row and rides along as a broadcast cross join.
    * Lift = N·c(ab)/(c(a)·c(b)) — products are formed in DECIMAL(38,0)
    * (BIGINT c(a)·c(b) overflows past ~3 B baskets), cast to DOUBLE only
    * for the final single division (IEEE round-to-nearest, deterministic
    * in both engines), rounded to 6 dp. */
  def qBasketLift(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: four consumers (basket census, item counts, both pair
    // sides) re-derived the scan+distinct otherwise — the plan showed
    // 5 lineitem scans for this one key
    val items = Materialize.shared(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val n = items.select(countDistinct(col("ok")).as("n_baskets"))
    val itemCnt = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pk1"), col("b.pk").as("pk2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    pairs
      .join(itemCnt.withColumnRenamed("pk", "pk1").withColumnRenamed("c", "c1"), "pk1")
      .join(itemCnt.withColumnRenamed("pk", "pk2").withColumnRenamed("c", "c2"), "pk2")
      .crossJoin(broadcast(n))
      .select(col("pk1"), col("pk2"), col("c_ab"), col("c1"), col("c2"),
        round(
          expr("CAST(CAST(n_baskets AS DECIMAL(38,0)) * c_ab AS DOUBLE) / " +
               "CAST(CAST(c1 AS DECIMAL(38,0)) * c2 AS DOUBLE)"), 6).as("lift"))
      .orderBy(col("pk1"), col("pk2"))
  }

  /** Session transition matrix: P(next event type | current event type)
    * within 30-minute sessions — the first-order Markov chain product
    * analytics reads navigation flow from. Transitions pair consecutive
    * events of the SAME session (sessions from
    * [[EventAnalytics.labelSessions]], one user_id shuffle; the lead()
    * runs in the same per-user sort). Probabilities are exact integer
    * parts-per-million — floor(1e6·cnt/total) in BIGINT floor division
    * (both engines floor positives identically) — so no float
    * accumulation can perturb the hash compare. The per-from totals
    * window runs over the ≤ |event_types|² aggregated matrix, not the
    * data. */
  def qMarkov(spark: SparkSession, dir: String): DataFrame = {
    val labeled = EventAnalytics.labelSessions(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus")),
      keyCol = "user_id", timeCol = "tus", tieCol = "event_id",
      gap = 30L * 60 * 1000000)
    val bySess = Window.partitionBy(col("user_id"), col("sess_id"))
      .orderBy(col("tus"), col("event_id"))
    val trans = labeled
      .withColumn("to_type", lead(col("event_type"), 1).over(bySess))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val byFrom = Window.partitionBy(col("from_type"))
    trans
      .withColumn("from_total", sum(col("n_trans")).over(byFrom))
      .withColumn("prob_ppm", expr("div(1000000 * n_trans, from_total)"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("prob_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Exact discrete quantile thresholds of `valueCol` over `df`, from a
    * global rank chunked by `chunkWidth` of value
    * ([[Windows.chunkedRunningSums]] — never a single-partition global
    * ROW_NUMBER). Returns one row: a threshold column per prob, the value
    * at rank ceil(prob·n) (the percentile_disc definition). `tieCol` pins
    * the permutation of equal values. */
  private def discThresholds(df: DataFrame, valueCol: String, tieCol: String,
      chunkWidth: Long, probs: Seq[Double]): DataFrame = {
    val ranked = Windows.chunkedRunningSums(
      df.withColumn("chunk", floor(col(valueCol) / lit(chunkWidth.toDouble))), Nil, "chunk",
      Seq(col(valueCol), col(tieCol)), "rn" -> lit(1L))
    val picks = probs.map { p =>
      max(when(expr(s"rn = CAST(ceil($p * rn_total) AS BIGINT)"), col(valueCol)))
        .as(s"t${(p * 100).round}")
    }
    ranked.agg(picks.head, picks.tail: _*)
  }

  /** RFM segmentation: every customer scored 1–5 on Recency (days since
    * last order, lower = better), Frequency (order count), Monetary
    * (lifetime spend in exact cents), against the population's exact
    * discrete quintile thresholds; output is the (r,f,m)-cell census with
    * the classic named segments called out.
    *
    * Scale shape: the per-customer base table aggregates once (one
    * o_custkey shuffle) and is checkpointed because four consumers
    * read it (three threshold computations + the scoring pass). Each
    * threshold set uses the chunked exact rank of [[discThresholds]] — at
    * 1.5e8 customers a flat global ROW_NUMBER would put the whole table
    * in one task; chunking bounds every task by its value band. The three
    * 1-row threshold frames broadcast into a map-side CASE scoring pass,
    * and the final census groups ≤ 125 cells. Everything is integer
    * arithmetic (days, counts, cents) — no float anywhere. */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxD = o.select(max(col("o_orderdate").cast("date")).as("max_d"))
    val base = Materialize.barrier(o
      .crossJoin(broadcast(maxD))
      .groupBy(col("o_custkey"))
      .agg(
        min(datediff(col("max_d"), col("o_orderdate").cast("date"))).as("rec_days"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon_cents")))
    val probs = Seq(0.2, 0.4, 0.6, 0.8)
    val rT = discThresholds(base, "rec_days", "o_custkey", 30L, probs)
      .select(col("t20").as("r20"), col("t40").as("r40"), col("t60").as("r60"), col("t80").as("r80"))
    val fT = discThresholds(base, "freq", "o_custkey", 5L, probs)
      .select(col("t20").as("f20"), col("t40").as("f40"), col("t60").as("f60"), col("t80").as("f80"))
    val mT = discThresholds(base, "mon_cents", "o_custkey", 10000000L, probs)
      .select(col("t20").as("m20"), col("t40").as("m40"), col("t60").as("m60"), col("t80").as("m80"))
    // Higher is better for F/M; for recency LOWER is better, so the score
    // counts thresholds the value does NOT exceed.
    def upScore(c: String, t: String) =
      (lit(1) + when(col(c) > col(s"${t}20"), 1).otherwise(0)
        + when(col(c) > col(s"${t}40"), 1).otherwise(0)
        + when(col(c) > col(s"${t}60"), 1).otherwise(0)
        + when(col(c) > col(s"${t}80"), 1).otherwise(0))
    val scored = base
      .crossJoin(broadcast(rT)).crossJoin(broadcast(fT)).crossJoin(broadcast(mT))
      .withColumn("r_score", lit(6) - upScore("rec_days", "r"))
      .withColumn("f_score", upScore("freq", "f"))
      .withColumn("m_score", upScore("mon_cents", "m"))
    scored
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("mon_cents")).as("cell_cents"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champions")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk_loyal")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_or_promising")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("core"))
      .select(col("r_score"), col("f_score"), col("m_score"),
        col("segment"), col("n_customers"), col("cell_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Revenue concentration (the Pareto/ABC analysis): how many customers —
    * count and parts-per-million share of the base — cover 50% / 80% / 90%
    * of total revenue, walking customers in descending-revenue order.
    *
    * Scale shape: the descending walk's rank AND running revenue are both
    * running sums ([[Windows.chunkedRunningSums]]) over $100k revenue
    * chunks, so no task ever owns the global order. Descending order falls
    * out of ordering on the NEGATED cents. The threshold probe
    * `cum·100 ≥ p·total` stays in integer cents — no float share ever
    * computed before the final ppm, which is BIGINT floor division. */
  def qPareto(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      // negate: ascending order over v == descending order over cents
      .withColumn("v", -col("cents"))
      .withColumn("chunk", floor(col("v") / lit(10000000.0)))
    val walked = Windows.chunkedRunningSums(base, Nil, "chunk",
      Seq(col("v"), col("o_custkey")), "rnk" -> lit(1L), "cum" -> col("cents"))
    val picks = Seq(50, 80, 90).map { p =>
      min(when(col("cum") * 100 >= lit(p.toLong) * col("cum_total"), col("rnk")))
        .as(s"n$p")
    }
    val agg = walked.agg(max(col("rnk_total")).as("n_total"), picks: _*)
    val tall = agg.select(
      expr("stack(3, 50, n50, 80, n80, 90, n90) AS (pct, n_customers)"),
      col("n_total"))
    tall.select(col("pct"), col("n_customers"),
        expr("div(1000000 * n_customers, n_total)").as("share_ppm"))
      .orderBy(col("pct"))
  }

  /** The audience universe: the event types whose user sets we compare.
    * A FIXED list shared verbatim by the Spark columns and the generated
    * oracle (the q_corpus_drift discipline) — the two engines cannot
    * structurally drift on which pairs exist. */
  private val audienceTypes = Seq("click", "error", "purchase", "signup", "view")
  private val audiencePairs: Seq[(String, String)] =
    for { i <- audienceTypes.indices; j <- i + 1 until audienceTypes.size }
      yield (audienceTypes(i), audienceTypes(j))

  /** Audience overlap: exact Jaccard similarity between the USER SETS of
    * every event-type pair — "how much does the purchase audience overlap
    * the signup audience", the segmentation-planning staple.
    *
    * Scale shape: ONE shuffle total. Per-user membership flags are a
    * single user_id aggregation with conditional max (never a per-pair
    * self-join of the membership table on user — which would shuffle the
    * user universe |pairs| times); intersections and unions for all 10
    * pairs come out of ONE one-row aggregation over the flag columns; the
    * pair reshape is a `stack` of that row. Jaccard is BIGINT floor
    * division to ppm — no float anywhere. */
  def qAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val flagCols = audienceTypes.map(t =>
      max(when(col("event_type") === t, 1).otherwise(0)).as(s"f_$t"))
    val flags = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(flagCols.head, flagCols.tail: _*)
    val aggCols = audiencePairs.flatMap { case (a, b) =>
      Seq(
        sum(expr(s"f_$a * f_$b")).cast("long").as(s"i_${a}_$b"),
        sum(expr(s"CASE WHEN f_$a + f_$b > 0 THEN 1 ELSE 0 END"))
          .cast("long").as(s"u_${a}_$b"))
    }
    val one = flags.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = audiencePairs.map { case (a, b) =>
      s"'$a|$b', i_${a}_$b, u_${a}_$b"
    }.mkString(", ")
    one.selectExpr(
        s"stack(${audiencePairs.size}, $stackArgs) AS (pair, n_inter, n_union)")
      .withColumn("jaccard_ppm",
        expr("CASE WHEN n_union = 0 THEN 0 ELSE div(1000000 * n_inter, n_union) END"))
      .orderBy(col("pair"))
  }

  /** Week-over-week revenue growth — the BI trendline: weekly revenue in
    * exact cents, previous week via lag, growth in integer ppm. Both
    * engines' integral division TRUNCATES toward zero (Spark `div` ≡
    * DuckDB `//` — verified empirically on negatives; `//` does not
    * floor), so plain
    * `div` is the portable form even for NEGATIVE growth weeks. Weeks
    * with no prior week report NULL growth in both engines.
    *
    * Scale shape: ONE aggregation shuffle on the week key; the lag window
    * runs over the aggregated weekly table (|weeks| rows — calendar-
    * bounded, never data-bounded), which is the correct place for an
    * unpartitioned window. */
  def qGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
    weekly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(Window.orderBy(col("week"))))
      .withColumn("growth_ppm", expr(
        """CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
          |ELSE div(1000000 * (rev_cents - prev_cents), prev_cents) END""".stripMargin))
      .select(col("week"), col("rev_cents"), col("prev_cents"), col("growth_ppm"))
      .orderBy(col("week"))
  }

  /** Kaplan-Meier churn survival over the event log — the retention
    * curve actuarial form. A user's observed lifetime is whole days
    * between first and last event; a user whose last event precedes the
    * corpus horizon by >14 days "churned" at that duration, later users
    * are right-censored (they exit the risk set without a churn event —
    * exactly what the KM estimator exists to handle). Output per observed
    * duration t: the risk set n(t), churn events d(t), discrete hazard,
    * and Ŝ(t) = Π_{u≤t} (n(u)−d(u))/n(u).
    *
    * Scale shape: one user_id aggregation shuffle, then the whole
    * estimator runs on the per-DAY table — calendar-bounded (≤ corpus
    * span in days), never data-bounded. The cumulative product is
    * inherently sequential ONCE FLOOR-QUANTIZED (S_ppm(t) =
    * ⌊S_ppm(t−1)·(n−d)/n⌋ admits no prefix decomposition, unlike the
    * chunked ranks elsewhere in this module), so it runs as a
    * single-partition sorted mapPartitions over those ≤ |days| rows —
    * integer-exact in both engines (DuckDB replays the identical
    * recursion in a recursive CTE), never a driver-side collect, and the
    * only single-task stage in the plan owns a calendar-sized input. */
  def qSurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val per = graft.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"))
      .groupBy(col("user_id"))
      .agg(min(col("tus")).as("first_us"), max(col("tus")).as("last_us"))
    val horizon = per.agg(max(col("last_us")).as("max_us"))
    val lives = per.crossJoin(broadcast(horizon))
      .select(
        expr(s"div(last_us - first_us, ${dayUs}L)").as("t"),
        (col("last_us") < col("max_us") - lit(14 * dayUs)).as("churned"))
    val days = lives.groupBy(col("t"))
      .agg(count(lit(1)).as("n_enter"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_events"))
    val byT = Window.orderBy(col("t"))
    val km = days
      .withColumn("n_total", sum(col("n_enter")).over(
        byT.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("exited", coalesce(sum(col("n_enter")).over(
        byT.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("t"), (col("n_total") - col("exited")).as("n_risk"),
        col("d_events"))
    km.repartition(1).sortWithinPartitions(col("t"))
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        var s = 1000000L
        rows.map { case (t, nRisk, d) =>
          s = s * (nRisk - d) / nRisk
          (t, nRisk, d, 1000000L * d / nRisk, s)
        }
      }
      .toDF("t", "n_risk", "d_events", "hazard_ppm", "survival_ppm")
      .orderBy(col("t"))
  }

  /** Generated from the same audienceTypes/audiencePairs lists as the
    * Spark columns. */
  private val audienceOverlapOracle: String = {
    val flagCols = audienceTypes.map(t =>
      s"MAX(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS f_$t")
      .mkString(",\n      |         ")
    val aggCols = audiencePairs.map { case (a, b) =>
      s"CAST(SUM(f_$a * f_$b) AS BIGINT) AS i_${a}_$b, " +
        s"CAST(SUM(CASE WHEN f_$a + f_$b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u_${a}_$b"
    }.mkString(",\n      |         ")
    val branches = audiencePairs.map { case (a, b) =>
      s"SELECT '$a|$b' AS pair, i_${a}_$b AS n_inter, u_${a}_$b AS n_union FROM one"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH flags AS (
      |  SELECT user_id,
      |         $flagCols
      |  FROM events GROUP BY user_id),
      |one AS (
      |  SELECT $aggCols
      |  FROM flags),
      |pairs AS (
      |  $branches)
      |SELECT pair, n_inter, n_union,
      |       CASE WHEN n_union = 0 THEN 0
      |            ELSE (1000000 * n_inter) // n_union END AS jaccard_ppm
      |FROM pairs ORDER BY pair""".stripMargin
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_survival_km" -> (qSurvivalKm _,
      """WITH RECURSIVE per AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT MAX(last_us) AS max_us FROM per),
        |lives AS (
        |  SELECT (last_us - first_us) // 86400000000 AS t,
        |         last_us < max_us - 1209600000000 AS churned
        |  FROM per CROSS JOIN mx),
        |days AS (
        |  SELECT t, COUNT(*) AS n_enter,
        |         SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS d_events
        |  FROM lives GROUP BY t),
        |km AS (
        |  SELECT t,
        |         CAST(SUM(n_enter) OVER ()
        |              - COALESCE(SUM(n_enter) OVER (ORDER BY t
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              AS BIGINT) AS n_risk,
        |         CAST(d_events AS BIGINT) AS d_events,
        |         ROW_NUMBER() OVER (ORDER BY t) AS rn
        |  FROM days),
        |surv AS (
        |  SELECT rn, t, n_risk, d_events,
        |         (1000000 * (n_risk - d_events)) // n_risk AS survival_ppm
        |  FROM km WHERE rn = 1
        |  UNION ALL
        |  SELECT k.rn, k.t, k.n_risk, k.d_events,
        |         (p.survival_ppm * (k.n_risk - k.d_events)) // k.n_risk
        |  FROM km k JOIN surv p ON k.rn = p.rn + 1)
        |SELECT t, n_risk, d_events,
        |       (1000000 * d_events) // n_risk AS hazard_ppm,
        |       survival_ppm
        |FROM surv ORDER BY t""".stripMargin),
    "q_growth" -> (qGrowth _,
      """WITH weekly AS (
        |  SELECT CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS week,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT week, CAST(rev_cents AS BIGINT) AS rev_cents,
        |         CAST(LAG(rev_cents) OVER (ORDER BY week) AS BIGINT) AS prev_cents
        |  FROM weekly)
        |SELECT week, rev_cents, prev_cents,
        |       CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
        |            ELSE (1000000 * (rev_cents - prev_cents)) // prev_cents END
        |         AS growth_ppm
        |FROM lagged ORDER BY week""".stripMargin),
    "q_audience_overlap" -> (qAudienceOverlap _, audienceOverlapOracle),
    "q_pareto" -> (qPareto _,
      """WITH base AS (
        |  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |walked AS (
        |  SELECT cents,
        |         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
        |         CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(SUM(cents) OVER () AS BIGINT) AS total,
        |         COUNT(*) OVER () AS n_total
        |  FROM base),
        |agg AS (
        |  SELECT MIN(CASE WHEN cum * 100 >= 50 * total THEN rnk END) AS n50,
        |         MIN(CASE WHEN cum * 100 >= 80 * total THEN rnk END) AS n80,
        |         MIN(CASE WHEN cum * 100 >= 90 * total THEN rnk END) AS n90,
        |         MAX(n_total) AS n_total
        |  FROM walked)
        |SELECT pct, n_customers, (1000000 * n_customers) // n_total AS share_ppm
        |FROM (
        |  SELECT 50 AS pct, n50 AS n_customers, n_total FROM agg
        |  UNION ALL SELECT 80, n80, n_total FROM agg
        |  UNION ALL SELECT 90, n90, n_total FROM agg)
        |ORDER BY pct""".stripMargin),
    "q_basket_lift" -> (qBasketLift _,
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
        |ic AS (SELECT pk, COUNT(*) AS c FROM items GROUP BY pk),
        |pairs AS (
        |  SELECT a.pk AS pk1, b.pk AS pk2, COUNT(*) AS c_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT pk1, pk2, c_ab, i1.c AS c1, i2.c AS c2,
        |       ROUND(CAST(CAST(n_baskets AS HUGEINT) * c_ab AS DOUBLE) /
        |             CAST(CAST(i1.c AS HUGEINT) * i2.c AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN ic i1 ON i1.pk = pairs.pk1
        |JOIN ic i2 ON i2.pk = pairs.pk2
        |CROSS JOIN n
        |ORDER BY pk1, pk2""".stripMargin),
    "q_markov" -> (qMarkov _,
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
        |trans AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id, sess_id
        |                                ORDER BY tus, event_id) AS to_type
        |  FROM sess),
        |cnt AS (
        |  SELECT from_type, to_type, COUNT(*) AS n_trans
        |  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |       (1000000 * n_trans) //
        |         CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
        |         AS prob_ppm
        |FROM cnt ORDER BY from_type, to_type""".stripMargin),
    "q_rfm" -> (qRfm _,
      """WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders),
        |base AS (
        |  SELECT o_custkey,
        |         MIN(DATEDIFF('day', CAST(o_orderdate AS DATE), max_d)) AS rec_days,
        |         COUNT(*) AS freq,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS mon_cents
        |  FROM orders CROSS JOIN maxd GROUP BY o_custkey),
        |rr AS (SELECT rec_days AS v,
        |              ROW_NUMBER() OVER (ORDER BY rec_days, o_custkey) AS rn,
        |              COUNT(*) OVER () AS n FROM base),
        |ff AS (SELECT freq AS v,
        |              ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS rn,
        |              COUNT(*) OVER () AS n FROM base),
        |mm AS (SELECT mon_cents AS v,
        |              ROW_NUMBER() OVER (ORDER BY mon_cents, o_custkey) AS rn,
        |              COUNT(*) OVER () AS n FROM base),
        |rt AS (SELECT MAX(CASE WHEN rn = CAST(CEIL(0.2 * n) AS BIGINT) THEN v END) AS r20,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.4 * n) AS BIGINT) THEN v END) AS r40,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.6 * n) AS BIGINT) THEN v END) AS r60,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.8 * n) AS BIGINT) THEN v END) AS r80
        |       FROM rr),
        |ft AS (SELECT MAX(CASE WHEN rn = CAST(CEIL(0.2 * n) AS BIGINT) THEN v END) AS f20,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.4 * n) AS BIGINT) THEN v END) AS f40,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.6 * n) AS BIGINT) THEN v END) AS f60,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.8 * n) AS BIGINT) THEN v END) AS f80
        |       FROM ff),
        |mt AS (SELECT MAX(CASE WHEN rn = CAST(CEIL(0.2 * n) AS BIGINT) THEN v END) AS m20,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.4 * n) AS BIGINT) THEN v END) AS m40,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.6 * n) AS BIGINT) THEN v END) AS m60,
        |              MAX(CASE WHEN rn = CAST(CEIL(0.8 * n) AS BIGINT) THEN v END) AS m80
        |       FROM mm),
        |scored AS (
        |  SELECT 6 - (1 + CASE WHEN rec_days > r20 THEN 1 ELSE 0 END
        |                + CASE WHEN rec_days > r40 THEN 1 ELSE 0 END
        |                + CASE WHEN rec_days > r60 THEN 1 ELSE 0 END
        |                + CASE WHEN rec_days > r80 THEN 1 ELSE 0 END) AS r_score,
        |         1 + CASE WHEN freq > f20 THEN 1 ELSE 0 END
        |           + CASE WHEN freq > f40 THEN 1 ELSE 0 END
        |           + CASE WHEN freq > f60 THEN 1 ELSE 0 END
        |           + CASE WHEN freq > f80 THEN 1 ELSE 0 END AS f_score,
        |         1 + CASE WHEN mon_cents > m20 THEN 1 ELSE 0 END
        |           + CASE WHEN mon_cents > m40 THEN 1 ELSE 0 END
        |           + CASE WHEN mon_cents > m60 THEN 1 ELSE 0 END
        |           + CASE WHEN mon_cents > m80 THEN 1 ELSE 0 END AS m_score,
        |         mon_cents
        |  FROM base CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt)
        |SELECT r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
        |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
        |            WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
        |            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |            ELSE 'core' END AS segment,
        |       COUNT(*) AS n_customers, CAST(SUM(mon_cents) AS BIGINT) AS cell_cents
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),
  )
}
