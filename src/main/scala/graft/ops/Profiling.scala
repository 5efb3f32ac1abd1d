package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling and data-quality operators over `orders` — the "what is
  * in this table" pass a lake pipeline runs on ingest (the reference's data
  * lake exists precisely to make such ad-hoc inspection queries cheap):
  *
  *  - histogram: fixed-width value distribution of a measure column
  *  - column profile: null count / distinct count / numeric range per column
  *  - z-score outliers: per-group anomaly flags from exact-sum statistics
  *
  * Everything reduces to hash aggregations (one shuffle each); the z-score
  * pass re-joins a handful of group-stat rows back onto the fact via
  * broadcast, so the fact table is scanned exactly twice and never
  * re-shuffled. All derived statistics follow the q_agg_stats discipline:
  * sums are exact DECIMAL(38,0) cent sums (order-independent, so both
  * engines produce bit-identical doubles after the final division) — a
  * native double stddev would merge partials in partition order and never
  * hash-match across engines.
  */
object Profiling extends QueryModule {

  private val bucketWidth = 25000.0

  /** Fixed-width histogram of o_totalprice: bucket id, edges, count, exact
    * min/max, and a mean from exact cent sums. floor() of a positive double
    * is exact in both engines; Spark floor returns BIGINT natively. */
  def qHist(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket", floor(col("o_totalprice") / lit(bucketWidth)))
      .withColumn("pc", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(col("pc").cast("decimal(38,0)")).as("sp"))
      .select(col("bucket"),
        (col("bucket") * lit(bucketWidth)).as("lo"),
        col("n"), col("min_price"), col("max_price"),
        round(expr("CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 100.0"), 2).as("avg_price"))
      .orderBy(col("bucket"))

  /** Equi-depth (equal-frequency) histogram of o_totalprice: 8 buckets of
    * (near-)equal row count — the histogram an optimizer or drift monitor
    * wants when the distribution is skewed and fixed-width buckets leave
    * most bins empty. Bucket of a row = ⌊(rank−1)·8/n⌋+1 from its EXACT
    * global rank in (cents, orderkey) order.
    *
    * The global rank is a running count ([[Windows.chunkedRunningSums]])
    * chunked by the q_hist buckets (a ~20-row chunk table), NOT a
    * global-ORDER-BY window, which would serialize the whole 100 TB sort
    * into one reducer. Ties carry distinct (pc, o_orderkey) keys, so ranks
    * — and therefore bucket splits mid-tie — are deterministic in both
    * engines. */
  def qHistEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))
      .withColumn("chunk", floor(col("o_totalprice") / lit(bucketWidth)))
    Windows.chunkedRunningSums(o, Nil, "chunk", Seq(col("pc"), col("o_orderkey")),
        "rn" -> lit(1L))
      .withColumn("bucket", expr("(rn - 1) * 8 div rn_total + 1"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        sum(col("pc").cast("decimal(38,0)")).as("sp"))
      .select(col("bucket"), col("n_rows"), col("lo"), col("hi"),
        round(expr("CAST(sp AS DOUBLE) / CAST(n_rows AS DOUBLE) / 100.0"), 2)
          .as("avg_price"))
      .orderBy(col("bucket"))
  }

  /** Per-column profile in long format: nulls, exact distinct count, and the
    * numeric range (epoch-micros for timestamps, NULL for strings — all
    * `< 2^53`, so the double carries them exactly). Computed in ONE
    * aggregation pass over the table, then pivoted to rows with `stack`.
    *
    * Scale note: five exact `countDistinct`s in one aggregate make Catalyst
    * expand the input ~6× before the shuffle. That is the price of exact
    * NDV (and what the oracle can verify); the 100 TB path swaps in
    * `approx_count_distinct` (HLL, single expand-free pass) — same plan
    * shape, sketch merge instead of distinct expand. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def nulls(c: String) = count(when(col(c).isNull, 1)).as(s"${c}_nulls")
    def ndv(c: String)   = countDistinct(col(c)).as(s"${c}_ndv")
    val agg = o.agg(
      nulls("o_orderkey"), ndv("o_orderkey"),
      min(col("o_orderkey")).cast("double").as("o_orderkey_min"),
      max(col("o_orderkey")).cast("double").as("o_orderkey_max"),
      nulls("o_custkey"), ndv("o_custkey"),
      min(col("o_custkey")).cast("double").as("o_custkey_min"),
      max(col("o_custkey")).cast("double").as("o_custkey_max"),
      nulls("o_totalprice"), ndv("o_totalprice"),
      min(col("o_totalprice")).as("o_totalprice_min"),
      max(col("o_totalprice")).as("o_totalprice_max"),
      nulls("o_orderstatus"), ndv("o_orderstatus"),
      nulls("o_orderdate"), ndv("o_orderdate"),
      // o_orderdate is TIMESTAMP_NTZ; the session is pinned to UTC, so the
      // cast to TIMESTAMP is a pure type change and epoch-micros match
      // DuckDB's EPOCH_US of the naive value
      unix_micros(min(col("o_orderdate")).cast("timestamp")).cast("double").as("o_orderdate_min"),
      unix_micros(max(col("o_orderdate")).cast("timestamp")).cast("double").as("o_orderdate_max"))
    agg.selectExpr(
      """stack(5,
        |  'o_orderkey',   o_orderkey_nulls,   o_orderkey_ndv,   o_orderkey_min,   o_orderkey_max,
        |  'o_custkey',    o_custkey_nulls,    o_custkey_ndv,    o_custkey_min,    o_custkey_max,
        |  'o_totalprice', o_totalprice_nulls, o_totalprice_ndv, o_totalprice_min, o_totalprice_max,
        |  'o_orderstatus',o_orderstatus_nulls,o_orderstatus_ndv,CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderdate',  o_orderdate_nulls,  o_orderdate_ndv,  o_orderdate_min,  o_orderdate_max
        |) AS (col_name, n_nulls, n_distinct, min_num, max_num)""".stripMargin)
      .orderBy(col("col_name"))
  }

  /** Per-group z-score outliers: events whose `value` sits more than 2.5
    * sample standard deviations from their event-type mean (the events
    * stream has a genuinely heavy-tailed value distribution; order prices
    * are bounded-uniform and never exceed |z| ≈ 1.8). Group stats come
    * from exact cent sums (deterministic doubles both engines reproduce);
    * the handful of stat rows broadcast back onto the fact, so flagging is
    * a map-side join — no second fact shuffle at any scale. Groups with
    * n ≤ 1 or zero variance cannot produce a z-score and are excluded by
    * contract. */
  def qAnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
    val stats = cents.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("sv"),
        sum((col("vc") * col("vc")).cast("decimal(38,0)")).as("sv2"))
      .filter(col("n") > 1)
      .select(col("event_type"),
        expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_c"),
        expr(
          """sqrt((CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
            |     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))""".stripMargin).as("std_c"))
      .filter(col("std_c") > 0)
    cents.join(broadcast(stats), "event_type")
      .withColumn("z", (col("vc").cast("double") - col("mean_c")) / col("std_c"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  /** Experimentation analytics: Welch's t-statistic per event type between
    * two user cohorts (user_id parity stands in for the assignment hash).
    * Everything reduces to the same exact-cent-sum discipline: one
    * aggregation produces per-(type, variant) {n, Σ, Σ²}; a conditional
    * pivot puts both variants on one row; mean/variance/t/df are then
    * closed-form doubles both engines reproduce bit-for-bit. The
    * Welch–Satterthwaite df comes out too — the full input an analyst
    * feeds a p-value table. Variants with < 2 observations or zero
    * variance in both arms are excluded by contract. */
  def qAbtest(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("s"),
        sum((col("vc") * col("vc")).cast("decimal(38,0)")).as("s2"))
    def side(v: Int, c: String) = max(when(col("variant") === v, col(c)))
    val wide = per.groupBy(col("event_type"))
      .agg(side(0, "n").as("n0"), side(0, "s").as("s0"), side(0, "s2").as("s20"),
        side(1, "n").as("n1"), side(1, "s").as("s1"), side(1, "s2").as("s21"))
      .filter(col("n0") > 1 && col("n1") > 1)
    wide.select(col("event_type"), col("n0"), col("n1"),
        expr("CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0").as("m0"),
        expr("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0").as("m1"),
        expr(
          """(CAST(n0 AS DOUBLE) * CAST(s20 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
            |  / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))""".stripMargin).as("v0"),
        expr(
          """(CAST(n1 AS DOUBLE) * CAST(s21 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            |  / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))""".stripMargin).as("v1"))
      .filter(col("v0") + col("v1") > 0)
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("m0"), 4).as("mean0"), round(col("m1"), 4).as("mean1"),
        round(((col("m0") - col("m1")) * 100.0)
          / sqrt(col("v0") / col("n0") + col("v1") / col("n1")), 4).as("t_welch"),
        // squares are written x*x, not pow(x, 2): Math.pow (JVM) and libm
        // pow (DuckDB) are not guaranteed ULP-identical, while a double
        // multiply is IEEE-exact in both
        round(
          ((col("v0") / col("n0") + col("v1") / col("n1"))
            * (col("v0") / col("n0") + col("v1") / col("n1")))
            / ((col("v0") / col("n0")) * (col("v0") / col("n0")) / (col("n0") - 1)
               + (col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1)),
          1).as("df"))
      .orderBy(col("event_type"))
  }

  /** Chi-square test of independence between event_type and a user cohort
    * (user_id mod 3), per cell: observed count, expected count under
    * independence, and the cell's χ² contribution. Everything derives from
    * exact integer counts; the per-cell double arithmetic runs once per
    * cell on bit-identical inputs, and the chi2_total column sums the
    * MICRO-UNIT-rounded contributions as integers — order-independent, so
    * the aggregate is oracle-stable too (a raw double sum would depend on
    * partition merge order). One aggregation + three windows over a
    * 15-row cell table. */
  def qChisq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(spark, dir)
      // `%` (not pmod): matches the oracle's sign-preserving semantics for
      // negative user_id, and both engines agree bit-for-bit.
      .withColumn("cohort", expr("CAST(user_id % 3 AS BIGINT)"))
      .groupBy(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("r", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("c", sum(col("n")).over(Window.partitionBy(col("cohort"))))
      .withColumn("t", sum(col("n")).over(Window.partitionBy()))
      // (n·t − r·c)²/(t·r·c): the products are formed in DOUBLE — the
      // BIGINT products n·t and r·c would overflow (or error under ANSI)
      // once total row count passes ~3B at the 100 TB design point, while
      // IEEE-754 doubles degrade gracefully and identically in both engines
      .withColumn("contrib", expr(
        """((CAST(n AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
          | * (CAST(n AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
          |/ (CAST(t AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))""".stripMargin))
      .withColumn("chi2_total", expr(
        "CAST(sum(CAST(round(contrib * 1e6) AS BIGINT)) OVER () AS DOUBLE) / 1e6"))
      .select(col("event_type"), col("cohort"), col("n"),
        round(expr("CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE)"), 4).as("expected"),
        round(col("contrib"), 6).as("contrib"),
        col("chi2_total"))
      .orderBy(col("event_type"), col("cohort"))
  }

  /** Referential-integrity audit across the star schema's FK edges: row
    * count and orphan count (anti-join) per relationship, one output row
    * each — the data-quality sweep a lake runs after every load. Orphan
    * detection is a semi/anti join per edge; at scale each edge shares the
    * shuffle shape of the corresponding production join. */
  def qFkAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame = {
      val orphans = fact.join(dim, fact(fk) === dim(pk), "left_anti")
      fact.agg(count(lit(1)).as("n_rows"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
    }
    val l = Tables.lineitem(spark, dir); val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir); val n = Tables.nation(spark, dir)
    edge("lineitem->orders", l, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
      .unionByName(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  /** Pairwise correlation matrix over the lineitem numeric columns
    * (quantity, extendedprice, discount), tall form: one row per unordered
    * column pair. ONE aggregation computes every cross-moment as an exact
    * DECIMAL cent sum (map-side combinable, nine decimals of state total),
    * then each pair's closed-form correlation runs once on bit-identical
    * integers — same determinism argument as q_agg_stats, generalized to
    * the full matrix. The tall explode happens AFTER aggregation, on a
    * one-row table. */
  def qCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir).select(
      expr("CAST(round(l_quantity * 100) AS BIGINT)").as("a"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("b"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("c"))
    def s(e: String) = sum(expr(s"CAST($e AS DECIMAL(38,0))"))
    val m = cents.agg(
      count(lit(1)).as("n"),
      s("a").as("sa"), s("b").as("sb"), s("c").as("sc"),
      s("a*a").as("saa"), s("b*b").as("sbb"), s("c*c").as("scc"),
      s("a*b").as("sab"), s("a*c").as("sac"), s("b*c").as("sbc"))
    def corr(x: String, y: String, xy: String, xx: String, yy: String) = expr(
      s"""(CAST(n AS DOUBLE) * CAST($xy AS DOUBLE) - CAST($x AS DOUBLE) * CAST($y AS DOUBLE))
         |/ (sqrt(CAST(n AS DOUBLE) * CAST($xx AS DOUBLE) - CAST($x AS DOUBLE) * CAST($x AS DOUBLE))
         |   * sqrt(CAST(n AS DOUBLE) * CAST($yy AS DOUBLE) - CAST($y AS DOUBLE) * CAST($y AS DOUBLE)))"""
        .stripMargin)
    // all three coefficients from the ONE aggregation row, then stack to
    // tall form (a union of per-pair selects would re-run the scan 3×)
    m.select(
        round(corr("sa", "sb", "sab", "saa", "sbb"), 6).as("c_qp"),
        round(corr("sa", "sc", "sac", "saa", "scc"), 6).as("c_qd"),
        round(corr("sb", "sc", "sbc", "sbb", "scc"), 6).as("c_pd"))
      .selectExpr(
        """stack(3,
          |  'quantity', 'extendedprice', c_qp,
          |  'quantity', 'discount', c_qd,
          |  'extendedprice', 'discount', c_pd) AS (col_a, col_b, corr)""".stripMargin)
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Tukey-fence outlier audit per event_type: counts outside
    * [Q1 − 1.5·IQR, Q3 + 1.5·IQR] with the quartiles taken as DISCRETE
    * percentiles (actual data values at ceil(q·n) — cross-engine exact on
    * integer cents, no interpolation). The fence comparison stays in
    * integer half-cents (2·c vs 5·q1 − 3·q3) so no fractional boundary
    * arithmetic exists anywhere.
    *
    * Scale shape: the quartile ranks are chunked by $10 of value
    * ([[Windows.chunkedRunningSums]]; a flat per-type row_number() would
    * put a whole event type's history in one task), the bounds table is a
    * ≤5-row broadcast, and the outlier count is one more map-side pass. */
  def qOutlierIqr(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val bounds = Windows.chunkedRunningSums(
        cents.withColumn("chunk", floor(col("c") / lit(1000L))), Seq("event_type"), "chunk",
        Seq(col("c"), col("event_id")), "rn" -> lit(1L))
      .groupBy(col("event_type"))
      .agg(
        max(when(expr("rn = CAST(ceil(rn_total * 0.25) AS BIGINT)"), col("c"))).as("q1"),
        max(when(expr("rn = CAST(ceil(rn_total * 0.75) AS BIGINT)"), col("c"))).as("q3"))
    cents.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(min(q1) AS DOUBLE) / 100.0").as("q1"),
        expr("CAST(min(q3) AS DOUBLE) / 100.0").as("q3"),
        sum(when(expr("2 * c < 5 * q1 - 3 * q3"), 1L).otherwise(0L)).as("n_out_lo"),
        sum(when(expr("2 * c > 5 * q3 - 3 * q1"), 1L).otherwise(0L)).as("n_out_hi"))
      .withColumn("pct_out", round(
        expr("CAST(n_out_lo + n_out_hi AS DOUBLE) / CAST(n AS DOUBLE)") * 100, 4))
      .orderBy(col("event_type"))
  }

  /** Join-key skew audit — the measurement that decides whether a key
    * needs salting (`Scale.saltedJoin`) or AQE skew handling BEFORE the
    * job runs: the 10 hottest l_partkey values with their row share, each
    * carrying the global skew factor (hottest key's count ÷ mean count,
    * in thousandths — >> 1000 means one reducer owns a multiple of its
    * fair share).
    *
    * Scale shape: one partial-aggregated groupBy on the key, a
    * TakeOrderedAndProject for the top-10 (never a global sort), and a
    * one-row summary broadcast onto them. All-integer arithmetic:
    * share_ppm and skew_x1000 are BIGINT products and divisions. */
  def qSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val summary = cnts.agg(
      sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    cnts
      .orderBy(col("cnt").desc, col("l_partkey"))
      .limit(10)
      .crossJoin(broadcast(summary))
      .select(col("l_partkey"), col("cnt"),
        expr("div(1000000 * cnt, total)").as("share_ppm"),
        expr("div(1000 * max_cnt * n_keys, total)").as("skew_x1000"))
      .orderBy(col("cnt").desc, col("l_partkey"))
  }

  /** MAD (median-absolute-deviation) robust outliers per event type — the
    * third member of the outlier family next to [[qAnomalyZscore]] (mean ±
    * kσ: cheap, but the outliers themselves inflate σ) and [[qOutlierIqr]]
    * (Tukey fences): the modified z-score 0.6745·|x−med|/MAD > 3.5 with a
    * 50% breakdown point. Both medians are exact DISCRETE percentiles on
    * integer cents (value at rank ceil(n/2)), and the outlier test is the
    * cross-multiplied integer compare 6745·|x−med| > 35000·MAD — no float
    * boundary anywhere, so the oracle matches hash-for-hash.
    *
    * Scale shape: TWO exact rank passes chunked by $10 of value
    * ([[Windows.chunkedRunningSums]]; a flat per-type row_number() puts a
    * whole type's history in one task), the second over |x−med| after
    * broadcasting the ≤5-row median table; the final count is one more
    * map-side pass. */
  def qAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    def discMedian(df: DataFrame, valueCol: String): DataFrame =
      Windows.chunkedRunningSums(
          df.withColumn("chunk", floor(col(valueCol) / lit(1000L))), Seq("event_type"),
          "chunk", Seq(col(valueCol), col("event_id")), "rn" -> lit(1L))
        .groupBy(col("event_type"))
        .agg(max(when(expr("rn = CAST(ceil(rn_total * 0.5) AS BIGINT)"), col(valueCol)))
          .as(s"med_$valueCol"))
    // checkpointed: each discMedian pass consumes its input twice (chunk
    // table + rank join) and `cents` additionally feeds the deviation
    // join — uncheckpointed the events scan was planted 9× in the plan
    val cents = Materialize.shared(Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c")))
    val med = discMedian(cents, "c")
    val devs = Materialize.shared(cents.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("c") - col("med_c")))) // feeds the MAD pass AND the final census
    val mad = discMedian(devs.select(col("event_type"), col("event_id"), col("dev")),
      "dev")
    devs.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(min(med_c) AS DOUBLE) / 100.0").as("median"),
        expr("CAST(min(med_dev) AS DOUBLE) / 100.0").as("mad"),
        sum(when(expr("6745 * dev > 35000 * med_dev"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Benford's-law expected ppm share for first digit d: floor(1e6 ·
    * log10(1 + 1/d)). Computed ONCE in Scala and interpolated as integer
    * literals into BOTH engines' plans (the generated-oracle discipline of
    * q_corpus_drift), so no engine evaluates a transcendental at query
    * time and the hash compare cannot drift on libm rounding. */
  private val BenfordPpm: Map[Int, Long] =
    (1 to 9).map(d => d -> math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong).toMap

  /** Benford first-digit audit over order totals — the classic fraud /
    * data-fabrication screen: natural multi-scale amounts follow
    * P(d) = log10(1+1/d); per digit we report observed count, observed
    * and expected ppm, and the absolute deviation. First digit extracted
    * by STRING head of the floored integer part (no float log10 at query
    * time — a value at a power-of-ten boundary would round differently
    * across libm builds). Map-only scan → 9-group aggregate; the digit
    * census and deviation arithmetic are exact integers in both engines. */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val exp = (1 to 9).map(d => s"WHEN digit = $d THEN ${BenfordPpm(d)}L")
      .mkString("CASE ", " ", " END")
    Tables.orders(spark, dir)
      .select(substring(expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("div(1000000 * n, total)").as("obs_ppm"),
        expr(exp).as("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .orderBy(col("digit"))
  }

  /** Risky classes must exist for the audit to be interesting but the
    * threshold must not swallow the whole census: k = 10 flags 35 of the
    * 125 (nation, segment) classes at sf0.01. */
  private val KAnonThreshold = 10

  /** Minimum distinct sensitive values per quasi-group before the group
    * counts as diverse ([[qLdiversity]]). */
  private val LDivThreshold = 5

  /** k-anonymity audit over the (c_nationkey, c_mktsegment) quasi-identifier
    * — the privacy screen a release pipeline runs before publishing a
    * derived table: every equivalence class smaller than k (the classes
    * whose members a linker holding the quasi-identifier could re-identify),
    * with the dataset-wide k-anonymity (smallest class anywhere), the class
    * census size, and the ppm of all rows sitting in a risky class attached
    * to every output row.
    *
    * Scale shape: ONE hash aggregation over the quasi-identifier builds the
    * class census (map-side combinable — the shuffle carries at most the
    * quasi-ID cardinality per partition, never raw rows); the global summary
    * is a second aggregate over the CLASS table, whose size is bounded by
    * quasi-ID cardinality, not row count, broadcast back as a one-row cross
    * join (the [[qFkAudit]] pattern). A flat window over () on the class
    * table would funnel every class through one task at 100×; the
    * aggregate-then-broadcast shape never does. All counts and the ppm are
    * exact integers in both engines. */
  def qKanon(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    val summary = cls.agg(
        min(col("cnt")).as("k_anon"),
        count(lit(1)).as("n_classes"),
        sum(col("cnt")).as("total"),
        sum(when(col("cnt") < KAnonThreshold, col("cnt")).otherwise(0L))
          .as("risky_rows"))
      .select(col("k_anon"), col("n_classes"),
        expr("div(1000000 * risky_rows, total)").as("risky_ppm"))
    cls.where(col("cnt") < KAnonThreshold)
      .crossJoin(broadcast(summary))
      .orderBy(col("cnt"), col("c_nationkey"), col("c_mktsegment"))
  }

  /** l-diversity audit — [[qKanon]]'s sibling: k-anonymity bounds how FEW
    * rows share a quasi-identifier, l-diversity bounds how few DISTINCT
    * sensitive values each quasi-group carries (a group of 500 rows that
    * all share one market segment still leaks the segment). Quasi-group =
    * nation, sensitive = mktsegment; every group is reported with its l
    * and a pass flag, so the output is the full audit table (rows =
    * |nations|, bounded by the dimension however large the fact).
    *
    * Scale shape: one hash aggregation; the distinct count expands to
    * Spark's standard two-phase partial-distinct plan (exact, map-side
    * combined on (nation, segment) first), so nothing but group keys ever
    * shuffles. */
  def qLdiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("c_mktsegment")).as("l_div"))
      .withColumn("diverse", col("l_div") >= lit(LDivThreshold))
      .orderBy(col("c_nationkey"))

  /** t-closeness breach threshold: a group whose sensitive-attribute
    * distribution sits more than t = 0.2 total-variation from the global
    * distribution leaks attribute skew even when k-anonymous and
    * l-diverse. */
  private val TCloseThresholdPpm = 200000L

  /** t-closeness audit — the third leg of the privacy triad after
    * [[qKanon]] (groups can't be too SMALL) and [[qLdiversity]] (groups
    * can't be too UNIFORM): per quasi-group (c_nationkey), the
    * total-variation distance between the group's sensitive-attribute
    * (c_mktsegment) distribution and the global one, as truncating ppm
    * integers — TV = ½·Σ_v |p_g(v) − p(v)| over the full value domain,
    * so a segment MISSING from a group contributes its whole global
    * share.
    *
    * Scale shape: two map-side-combinable rollups (group×value census,
    * global value census) whose outputs are bounded by |QI domain| ×
    * |sensitive domain|, never row count; the full grid comes from a
    * cross join of the GROUP census with the broadcast (value-census ×
    * one-row total) table — both census-sized — and the per-group L1
    * fold is an aggregation over that grid. Each |·| term is a
    * truncating ppm division of exact longs, identical in both
    * engines. */
  def qTclose(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"))
    val gcnt = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("c_gv"))
    val gtot = gcnt.groupBy(col("c_nationkey")).agg(sum(col("c_gv")).as("n_g"))
    val vcnt = cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("c_v"))
    val tot = cust.agg(count(lit(1)).as("n"))
    gtot.crossJoin(broadcast(vcnt.crossJoin(tot)))
      .join(gcnt, Seq("c_nationkey", "c_mktsegment"), "left")
      .na.fill(0L, Seq("c_gv"))
      .withColumn("d",
        abs(expr("div(1000000 * c_gv, n_g) - div(1000000 * c_v, n)")))
      .groupBy(col("c_nationkey"), col("n_g"))
      .agg(sum(col("d")).as("l1_ppm"))
      .withColumn("tv_ppm", expr("div(l1_ppm, 2)"))
      .withColumn("breach", col("tv_ppm") > TCloseThresholdPpm)
      .select(col("c_nationkey"), col("n_g").as("n_rows"),
        col("l1_ppm"), col("tv_ppm"), col("breach"))
      .orderBy(col("c_nationkey"))
  }

  /** Day-of-week seasonal anomaly screen: each (event_type, day)'s cent
    * total against the mean of ITS OWN weekday within the type — the
    * baseline a Monday is fairly compared to (a flat mean flags every
    * weekend of a weekday-heavy metric). A day is reported when it sits
    * more than 25% from its weekday baseline (ratio < 0.8 or > 1.25),
    * and the test is the cross-multiplied INTEGER comparison 5·y·n < 4·s
    * (resp. 4·y·n > 5·s) in DECIMAL(38,0) — no float boundary; the
    * reported ratio y·n/s is one
    * final division of exact operands. Positive-baseline series only
    * (s > 0), documented: a ratio against a negative mean inverts the
    * inequality semantics.
    *
    * Scale shape: the per-(type, day) rollup is the one event-volume
    * shuffle (map-side combined); the (type, dow) baseline table is ≤
    * 7·|types| rows and joins back BROADCAST; the screen itself is
    * map-only. No windows, no sorts except the oracle-only output ORDER
    * BY. */
  def qAnomalySeasonal(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("vc")).as("y"))
      .withColumn("dow", dayofweek(col("d")))
    val base = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(38,0)")).as("s"))
      .filter(col("n") > 1 && col("s") > 0)
    daily.join(broadcast(base), Seq("event_type", "dow"))
      .filter(expr(
        "CAST(y AS DECIMAL(38,0)) * n * 5 < s * 4 OR CAST(y AS DECIMAL(38,0)) * n * 4 > s * 5"))
      .select(col("event_type"), col("d"),
        (col("y").cast("double") / 100.0).as("daily_sum"),
        round(expr("CAST(CAST(y AS DECIMAL(38,0)) * n AS DOUBLE) / CAST(s AS DOUBLE)"), 6)
          .as("seasonal_ratio"))
      .orderBy(col("event_type"), col("d"))
  }

  /** CUSUM changepoint estimate per event-type series: the day d
    * maximizing |Σ_{t≤d}(y_t − μ)| — the classic "where did the level
    * shift" statistic. The mean-centered prefix sum is kept EXACT by
    * scaling out the division: C*_d = N·P_d − d·S (P = prefix sum, S =
    * total, N = day count) in DECIMAL(38,0); the argmax runs on |C*|
    * (division by the positive constant N preserves it), ties break to
    * the earliest day, and C* / N / 100 is divided back to dollars only at
    * output. Series with < 3 days are skipped (a changepoint needs an
    * interior).
    *
    * Scale shape: one event-volume rollup to the daily table, then
    * prefix-sum + argmax windows partitioned by event_type over DAILY
    * rows — bounded by calendar span, never event volume (the
    * [[EventAnalytics.qInterpolate]] argument) — plus a broadcast of the
    * ≤|types|-row totals. */
  def qChangepointCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("vc")).as("y"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nn"),
        sum(col("y").cast("decimal(38,0)")).as("ss"))
      .filter(col("nn") > 2)
    daily
      .withColumn("idx", row_number().over(byDay))
      .withColumn("p", sum(col("y").cast("decimal(38,0)"))
        .over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(tot), "event_type")
      .withColumn("c", expr(
        "CAST(nn AS DECIMAL(38,0)) * p - CAST(idx AS DECIMAL(38,0)) * ss"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(abs(col("c")).desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("change_day"),
        round(expr("CAST(c AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0"), 6).as("cusum"))
      .orderBy(col("event_type"))
  }

  /** Classical decomposition (STL-lite) of each event-type daily series:
    * daily = trend + weekday effect + residual. The trend is the centered
    * 7-day moving sum T7 kept EXACT (÷700 deferred to output); the
    * detrended residual 7·y − T7 is an exact integer, so the per-(type,
    * dow) effect is an exact-integer mean with ONE division; the final
    * residual subtracts three deterministically-derived doubles —
    * bit-identical in both engines because every input to every IEEE op
    * is identical. Edge days without a full centered week are excluded
    * (n7 = 7), which is also what makes the trend well-defined.
    *
    * Scale shape: one event-volume rollup to the daily table; the
    * centered window runs per event_type over DAILY rows (calendar-
    * bounded); the ≤ 7·|types|-row effect table joins back BROADCAST. */
  def qSeasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("vc")).as("y"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-3, 3)
    val t = daily
      .select(col("event_type"), col("d"), col("y"),
        count(lit(1)).over(w7).as("n7"),
        sum(col("y").cast("decimal(38,0)")).over(w7).as("t7"))
      .filter(col("n7") === 7)
      .withColumn("r7", expr("CAST(y AS DECIMAL(38,0)) * 7 - t7"))
      .withColumn("dow", dayofweek(col("d")))
    val eff = t.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("ne"), sum(col("r7")).as("se"))
    t.join(broadcast(eff), Seq("event_type", "dow"))
      .select(col("event_type"), col("d"),
        (col("y").cast("double") / 100.0).as("daily_sum"),
        round(expr("CAST(t7 AS DOUBLE) / 700.0"), 6).as("trend"),
        round(expr("CAST(se AS DOUBLE) / CAST(ne * 7 AS DOUBLE) / 100.0"), 6)
          .as("dow_effect"),
        // outer + 0.0 normalizes IEEE -0.0 (a tiny negative residual
        // rounds to signed zero, and the engines disagree on the sign bit)
        (round(expr(
          """CAST(y AS DOUBLE) / 100.0 - CAST(t7 AS DOUBLE) / 700.0
            | - CAST(se AS DOUBLE) / CAST(ne * 7 AS DOUBLE) / 100.0""".stripMargin), 6)
          + lit(0.0)).as("residual"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Ingestion-freshness audit — the first data-quality question a lake
    * operator asks ("did yesterday's load land?"): per event_type, the
    * event count, first/last timestamps, event rate per active day, the
    * lag behind the global horizon in exact microseconds (divided to
    * days ONCE at output), and a stale flag from the INTEGER comparison
    * lag_us ≥ 2 days — no float boundary on the alerting path.
    *
    * Scale shape: one map-side-combinable aggregation (count/min/max)
    * per type plus a one-row global horizon broadcast back — output rows
    * = |types| however large the fact table. */
  def qFreshness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"), col("ts"))
    val horizon = e.agg(max(col("ts")).as("h"))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(horizon))
      .select(col("event_type"), col("n_events"), col("first_ts"), col("last_ts"),
        round(expr(
          "CAST(unix_micros(h) - unix_micros(last_ts) AS DOUBLE) / 86400000000.0"), 6)
          .as("lag_days"),
        expr("unix_micros(h) - unix_micros(last_ts) >= 172800000000").as("stale"),
        round(expr(
          """CAST(n_events AS DOUBLE)
            | / CAST(datediff(CAST(last_ts AS DATE), CAST(first_ts AS DATE)) + 1 AS DOUBLE)"""
            .stripMargin), 6).as("events_per_day"))
      .orderBy(col("event_type"))
  }

  /** Lag-k autocorrelation (ACF, k = 1..7) of each event_type's daily
    * value series — the diagnostic behind seasonality detection, forecast
    * model order selection, and "is this metric mean-reverting" questions;
    * the numeric companion to [[qSeasonalDecompose]]'s structural split.
    *
    * Exactness: with x_t the exact daily cent sums, S = Σx and n the series
    * length, r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² is computed with every
    * term multiplied through by n² — (n·x_t − S)(n·x_{t+k} − S) — so
    * numerator and denominator are exact DECIMAL(38,0) sums (the n² factors
    * cancel in the ratio) and the only float op is ONE final division of
    * exactly-cast operands. A mean-subtracted float accumulation would be
    * partition-order-dependent; this is not. The `+ 0.0` normalizes IEEE
    * −0.0 (negative correlations can round to signed zero and the engines
    * disagree on its sign bit — the [[qSeasonalDecompose]] convention).
    *
    * Scale shape: ONE corpus-sized shuffle (the map-side-combinable daily
    * rollup); everything after runs on |types|×|days| rows — the per-type
    * stats are a tiny aggregate broadcast back, the 7 lags explode from a
    * 7-row broadcast, and the lag self-join keys on (event_type, date), so
    * no stage after the rollup ever sees a corpus-sized row count. */
  def qAcf(spark: SparkSession, dir: String): DataFrame = {
    // consumed three times (stats + both sides of the lag join): compute
    // the rollup once, not once per consumer
    val daily = Materialize.shared(Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("x")).as("x")))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      // den·1 = Σ(n·x_t − S)² = n·(n·Σx² − S²), exact
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * (n * sxx - s * s)"))
      .filter(col("den") > 0)
    val lags = spark.range(1, 8).select(col("id").cast("int").as("k"))
    val a = daily.select(col("event_type"), col("d"), col("x").as("xa"))
    val b = daily.select(col("event_type").as("et_b"), col("d").as("db"),
      col("x").as("xb"))
    a.crossJoin(broadcast(lags))
      .join(b, col("event_type") === col("et_b")
        && col("db") === date_add(col("d"), col("k")))
      .join(broadcast(stats), "event_type")
      .groupBy(col("event_type"), col("k"), col("den"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("(CAST(n AS DECIMAL(38,0)) * xa - s) * (CAST(n AS DECIMAL(38,0)) * xb - s)"))
          .as("num"))
      .select(col("event_type"), col("k"), col("n_pairs"),
        (round(expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"), 6) + lit(0.0))
          .as("acf"))
      .orderBy(col("event_type"), col("k"))
  }

  /** Mersenne modulus + Knuth-multiplier affine family — the universal-
    * hashing discipline the MinHash tier pinned (Dedup.mixConsts): one
    * md5 per row, 32 overflow-safe affine transforms of its 31-bit
    * residue. Shared verbatim by the Spark columns and the generated
    * oracle. */
  private val BootM = 2147483647L // 2^31 - 1
  private def bootConsts(r: Int): (Long, Long) =
    (((2L * r + 1L) * 2654435761L) % BootM, (r.toLong * 1779033703L) % BootM)
  /** Replicate weight w ∈ {0,1,2} with P = ¼,½,¼ (mean 1) as a SQL CASE
    * over the r-th affine transform of the shared per-row hash `h`. */
  private def bootW(r: Int): String = {
    val (a, b) = bootConsts(r)
    s"CASE ((h * ${a}L + ${b}L) % ${BootM}L) % 4 WHEN 0 THEN 2 WHEN 1 THEN 0 ELSE 1 END"
  }

  /** Bootstrap confidence interval for mean order revenue — the
    * distribution-free error bar BI attaches to a point estimate. 32
    * bootstrap replicates; replicate weights are DETERMINISTIC integers:
    * ONE md5 per order reduced to a 31-bit residue, then 32 affine
    * transforms (the [[bootConsts]] universal-hash family — the
    * Dedup.qDedupMinhash discipline) map it to w ∈ {0,1,2} with
    * P = ¼,½,¼, mean 1 — the hash-weight (multinomial-approximating)
    * bootstrap, so both engines draw IDENTICAL "random" resamples and the
    * oracle verifies the whole CI hash-for-hash, not just its shape.
    * Output: the point estimate and the rank-2/rank-31 replicate order
    * statistics (a ~94% interval from 32 replicates), in exact cents.
    *
    * Scale shape: NO row expansion anywhere — all 32 replicates are 64
    * aggregate columns (Σw·cents, Σw per replicate) over ONE scan, with
    * map-side partial aggregation, so the only shuffle carries one 64-long
    * row per task whatever the corpus size (first cut ×32-exploded rows
    * and paid 32 md5 calls per order: 6.2 s at sf0.1; this form is one
    * md5 + 64 fused integer columns). The order-statistics window runs
    * over the stacked 32-row replicate table. */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15), " +
          s"16, 10) AS BIGINT) % ${BootM}L").as("h"))
    val aggCols = (0 until 32).flatMap { r =>
      Seq(sum(expr(s"${bootW(r)} * cents")).as(s"ws$r"),
        sum(expr(bootW(r))).as(s"wn$r"))
    }
    val stackArgs = (0 until 32).map(r => s"$r, ws$r, wn$r").mkString(", ")
    val perRep = base.agg(aggCols.head, aggCols.tail: _*)
      .selectExpr(s"stack(32, $stackArgs) AS (rep, wsum, wn)")
      .withColumn("mean_cents", expr("div(wsum, wn)"))
    perRep
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mean_cents"), col("rep"))))
      .agg(
        count(lit(1)).as("n_reps"),
        expr("div(sum(mean_cents), count(1))").as("est_cents"),
        max(when(col("rk") === 2, col("mean_cents"))).as("ci_lo_cents"),
        max(when(col("rk") === 31, col("mean_cents"))).as("ci_hi_cents"),
        min(col("mean_cents")).as("min_cents"),
        max(col("mean_cents")).as("max_cents"))
  }

  /** Holt's linear-trend exponential smoothing (α = β = ½) over the daily
    * revenue series of each event type, plus the 7-day-ahead forecast —
    * the first true FORECAST next to the decompose/anomaly keys. The
    * recursion is floor-quantized to exact integer cents:
    * l_t = ⌊(y_t + l_{t−1} + b_{t−1})/2⌋, b_t = ⌊(l_t − l_{t−1} + b_{t−1})/2⌋
    * (α = β = ½ makes smoothing a pure integer halving; Spark `div`,
    * Scala `/` and DuckDB `//` all truncate toward zero — the empirically
    * pinned shared semantics — so the oracle's recursive CTE replays the
    * identical sequence).
    *
    * Scale shape: one corpus-sized map-side-combinable rollup to
    * |types|×|days| rows; the recursion then runs per series inside
    * flatMapGroups — inherently sequential ONCE QUANTIZED (same argument
    * as [[Behavior.qSurvivalKm]]), but each group is calendar-bounded
    * (≤ span days) while the SERIES dimension is what scales, and series
    * parallelize perfectly across executors. */
  def qForecastHolt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").cast("string").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("y")).as("y"))
    daily.as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, rows) =>
        // ISO yyyy-MM-dd sorts chronologically as a string
        val series = rows.toArray.sortBy(_._2)
        var l = 0L; var b = 0L; var first = true
        series.iterator.map { case (_, d, y) =>
          if (first) { l = y; b = 0L; first = false }
          else {
            val lPrev = l
            l = (y + lPrev + b) / 2
            b = (l - lPrev + b) / 2
          }
          (et, d, y, l, b)
        }
      }
      .toDF("event_type", "d", "y_cents", "level", "trend")
      .select(col("event_type"), col("d").cast("date").as("d"), col("y_cents"),
        col("level"), col("trend"),
        (col("level") + lit(7L) * col("trend")).as("forecast7"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Declarative data-quality rule census (the Deequ/dbt-test shape): a
    * FIXED rule catalog — null check, range checks, value-domain check,
    * key uniqueness, referential integrity — evaluated over orders and
    * lineitem in one pass each, reported as one row per rule with exact
    * violation counts and ppm. The census-with-zeros IS the artifact: a
    * pipeline gate diffs it against yesterday's.
    *
    * Scale shape: all row-local rules for a table fold into ONE map-side
    * aggregation of its scan (a rule census never re-scans per rule);
    * uniqueness is one groupBy on the key; the FK rule is a left-anti
    * equi-join on the key. Nothing quadratic, nothing per-rule. */
  def qDqRules(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val oRules = o.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("v_status"))
      .selectExpr("stack(3, 'orders_custkey_not_null', n, v_null, " +
        "'orders_price_positive', n, v_price, " +
        "'orders_status_domain', n, v_status) AS (rule, n_rows, n_violations)")
    val uniq = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c") - 1).as("v"))
      .select(lit("orders_orderkey_unique").as("rule"),
        col("n_keys").as("n_rows"), col("v").as("n_violations"))
    val liRules = li.agg(
        count(lit(1)).as("n"),
        sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("v_qty"),
        sum(when(!col("l_discount").between(0.0, 0.1), 1L).otherwise(0L)).as("v_disc"))
      .selectExpr("stack(2, 'lineitem_quantity_range', n, v_qty, " +
        "'lineitem_discount_range', n, v_disc) AS (rule, n_rows, n_violations)")
    val fk = li
      .join(o.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(li.agg(count(lit(1)).as("n_rows"))))
      .select(lit("lineitem_fk_orders").as("rule"), col("n_rows"), col("n_violations"))
    oRules.unionByName(uniq).unionByName(liRules).unionByName(fk)
      .withColumn("violation_ppm", expr(
        "CASE WHEN n_rows = 0 THEN 0 ELSE div(1000000 * n_violations, n_rows) END"))
      .orderBy(col("rule"))
  }

  /** Count-Min sketch certificate (Cormode & Muthukrishnan 2005) — the
    * third member of the mergeable-sketch family next to the HLL and
    * quantile certificates: d=4 hash rows × w=256 buckets built from
    * md5-derived bucket ids (identical in both engines), probed with the
    * 10 highest-frequency tokens. The output carries the exact count, the
    * CM estimate (min over the 4 row cells), and the overcount — the
    * estimate can NEVER undercount, which the spec asserts. Scale shape:
    * the sketch is a ≤ 1024-cell map-side-combinable rollup (each map
    * task contributes 4 increments per token, partials merge by cell
    * addition — the textbook mergeable summary), the probe set is 10
    * rows, and the probe join broadcasts the sketch. At 100 TB the full
    * token shuffle never happens: only the 1024 cells and the heavy-key
    * candidates move. */
  def qCountMin(spark: SparkSession, dir: String): DataFrame = {
    val W = 256
    def bucket(j: Int, tok: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit(s"$j:"), tok)), 1, 15), 16, 10)
        .cast("long") % W).as(s"b$j")
    val toks = Materialize.shared(Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")) // feeds the sketch AND the exact top-10
    val cells = toks
      .select(explode(array((0 until 4).map(j =>
        struct(lit(j).as("row_id"), bucket(j, col("tok")).as("bucket"))): _*))
        .as("c"))
      .groupBy(col("c.row_id").as("row_id"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val top10 = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("tok")).limit(10)
    top10
      .select(col("tok"), col("true_count"), explode(array((0 until 4).map(j =>
        struct(lit(j).as("row_id"), bucket(j, col("tok")).as("bucket"))): _*))
        .as("p"))
      .join(broadcast(cells),
        col("p.row_id") === cells("row_id") && col("p.bucket") === cells("bucket"))
      .groupBy(col("tok"), col("true_count"))
      .agg(min(col("cell")).as("cm_estimate"))
      .select(col("tok").as("token"), col("true_count"), col("cm_estimate"),
        (col("cm_estimate") - col("true_count")).as("overcount"))
      .orderBy(col("true_count").desc, col("token"))
  }

  /** Second-frequency-moment (self-join size) sketch certificate — the
    * AMS/CMS estimate a cost-based optimizer uses to size a join BEFORE
    * running it: F2 = Σ c_k² is the exact row count of the key's
    * self-join, and the Count-Min row dot product Σ_j cell_j² NEVER
    * underestimates it (cross terms are non-negative), so min over the 4
    * independent rows is a one-sided bound, exactly like
    * [[qCountMin]]'s point estimates. Output: exact F2 (from the key
    * profile), the sketch estimate, and the overestimate in ppm — the
    * measured price of estimating a 6M-row join from 1 KB of state.
    *
    * Scale shape: the sketch is ONE map-side-combinable rollup into 4×256
    * mergeable cells (per-partition sketches OR together by addition);
    * the exact side is the key profile the skew audit already pays for.
    * At 100 TB only the sketch side would run — the exact column exists
    * because this is a certificate. */
  def qF2Sketch(spark: SparkSession, dir: String): DataFrame = {
    val W = 256
    def bucket(j: Int, k: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit(s"$j:"), k.cast("string"))), 1, 15), 16, 10)
        .cast("long") % W)
    // feeds the sketch AND the exact F2
    val keys = Materialize.shared(Tables.lineitem(spark, dir).select(col("l_partkey").as("k")))
    val cells = keys
      .select(explode(array((0 until 4).map(j =>
        struct(lit(j).as("row_id"), bucket(j, col("k")).as("bucket"))): _*)).as("c"))
      .groupBy(col("c.row_id").as("row_id"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val est = cells.groupBy(col("row_id"))
      .agg(sum(col("cell") * col("cell")).as("row_est"))
      .agg(min(col("row_est")).as("f2_est"))
    val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c") * col("c")).as("f2_exact"))
    exact.crossJoin(broadcast(est))
      .select(col("n_keys"), col("f2_exact"), col("f2_est"),
        expr("div(1000000 * (f2_est - f2_exact), f2_exact)").as("over_ppm"))
  }

  /** HyperLogLog distinct-count certificate (Flajolet et al. 2007) — the
    * F0 member of the mergeable-sketch family next to [[qCountMin]] (point
    * frequencies) and [[qF2Sketch]] (join size): m=256 registers built
    * from a 60-bit md5-derived hash (low 8 bits route the bucket, the
    * remaining 52 carry the geometric observable), register value
    * ρ = 53 − bitlength(w) = leading-zeros-in-52-bits + 1. The raw HLL
    * estimate α·m²/Σ 2^−M_b is reproduced as EXACT integer arithmetic in
    * both engines: scale the harmonic sum by 2^R (R = max register, empty
    * registers contribute 2^R each) and evaluate
    * ⌊α_ppm·m²·2^R / (10⁶·S_scaled)⌋ in DECIMAL(38,0)/HUGEINT, with
    * α_ppm = 718273 (= ⌊10⁶·0.7213/(1+1.079/256)⌋ — a fixed rational so
    * there is no float in the pipeline at all). No small-range/linear-
    * counting branch: the probed column's cardinality (distinct l_partkey
    * ≈ 20%·|part| per TPC-H) sits above 2.5·m at every test SF ≥ 0.01,
    * which is the regime the raw formula is specified for; the certificate
    * emits the register census checksum so a future engine port can be
    * diffed register-by-register.
    *
    * Scale shape: the sketch is ONE map-side-combinable groupBy into ≤256
    * cells (per-partition registers merge by MAX — the canonical mergeable
    * summary; at 100 TB each executor ships 2 KB). The exact distinct
    * count exists because this is a certificate; the production path would
    * run the register rollup alone. */
  def qHllSketch(spark: SparkSession, dir: String): DataFrame = {
    val M = 256
    // ≤256 rows feed summary AND the harmonic sum
    val regs = Materialize.shared(Tables.lineitem(spark, dir)
      .select(col("l_partkey").cast("string").as("k"))
      .withColumn("h", conv(substring(md5(concat(lit("hll:"), col("k"))), 1, 15), 16, 10)
        .cast("long"))
      .select((col("h") % M).as("bucket"), expr("h div 256").as("w"))
      .withColumn("rho", when(col("w") === 0, lit(53))
        .otherwise(lit(53) - length(expr("bin(w)"))))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_b")))
    val summary = regs.agg(
        count(lit(1)).as("n_used"),
        max(col("m_b")).cast("long").as("r_max"),
        sum(expr("(bucket + 1) * m_b")).as("reg_chk"))
    val sScaled = regs.crossJoin(broadcast(summary))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(r_max - m_b AS INT))")).as("s_used"))
    val exact = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    summary.crossJoin(broadcast(sScaled)).crossJoin(broadcast(exact))
      .withColumn("s_scaled", expr(
        s"s_used + ($M - n_used) * shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"))
      .withColumn("hll_est", expr(
        s"""CAST(CAST(718273 AS DECIMAL(38,0)) * ${M.toLong * M}
           |  * CAST(shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT)) AS DECIMAL(38,0))
           |  div (CAST(1000000 AS DECIMAL(38,0)) * CAST(s_scaled AS DECIMAL(38,0)))
           |  AS BIGINT)""".stripMargin))
      .select(lit(M.toLong).as("m"), col("n_used"), col("r_max"), col("reg_chk"),
        col("s_scaled"), col("hll_est"), col("n_exact"),
        expr("div(1000000 * abs(hll_est - n_exact), n_exact)").as("abs_err_ppm"),
        (col("hll_est") >= col("n_exact")).as("over"))
  }

  /** Worst-slice finder — the dataset-debugging QA pass that ranks
    * (lang, source) slices by a per-document quality metric (distinct-token
    * ratio, in ppm integers) against the global mean, keeping only slices
    * with enough support to matter (≥ 4 docs — sized so the HAVING filter
    * is exercised at every test SF; a production run would use hundreds). One map-side-combinable
    * rollup over the corpus plus a 1-row broadcast of the global mean; the
    * slice table is bounded by |lang|×|source|, so the final sort is noise
    * at any scale. */
  def qSliceFinder(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Materialize.shared(Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("lang"), col("source"),
        expr("div(1000000 * cast(size(array_distinct(toks)) as bigint), size(toks))")
          .as("ratio_ppm"))) // feeds the slice rollup AND the global mean
    val global = perDoc.agg(
      expr("div(sum(ratio_ppm), count(1))").as("global_avg_ppm"))
    perDoc.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("div(sum(ratio_ppm), count(1))").as("slice_avg_ppm"))
      .filter(col("n_docs") >= 4)
      .crossJoin(broadcast(global))
      .withColumn("delta_ppm", col("slice_avg_ppm") - col("global_avg_ppm"))
      .orderBy(col("slice_avg_ppm").asc, col("lang"), col("source"))
      .limit(10)
  }

  /** Bloom-filter DESIGN certificate — before a 100 TB join relies on a
    * bloom runtime filter (the `q_join_bloom` path), this audit measures
    * the filter's ACTUAL false-positive rate against its fill-ratio
    * estimate on real key distributions: members are the urgent-order
    * customers, the filter is m=16384 bits × k=4 keyed md5 hashes
    * (mergeable: the bit set is a distinct-union, so per-partition filters
    * OR together), probes are the customers NOT in the member set, and a
    * probe is a false positive iff all 4 of its bit positions are set.
    * Output: member/bit/probe counts, measured FPR, and the standard
    * (bits_set/m)^k estimate — both in exact integer ppm.
    *
    * Scale shape: the bit set is ≤ 16384 rows → broadcast; probes stream
    * past it map-side (a positions-join + count-4 rollup); everything else
    * is cell arithmetic on a 1-row frame. */
  def qBloomFpr(spark: SparkSession, dir: String): DataFrame = {
    val mBits = 16384L
    def positions(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("k"),
          explode(expr("sequence(0, 3)")).as("i"))
        .withColumn("pos", expr(
          s"CAST(conv(substring(md5(concat('bf', CAST(i AS STRING), ':', " +
            s"CAST(k AS STRING))), 1, 15), 16, 10) AS BIGINT) % $mBits"))
    val members = Materialize.shared(Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()) // feeds the bit set AND the probe anti-join
    // feeds n_bits_set AND the probe join
    val bits = Materialize.shared(positions(members, "o_custkey").select(col("pos")).distinct())
    val probes = Tables.customer(spark, dir)
      .join(members, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
    val fp = positions(probes, "c_custkey")
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("k")).agg(countDistinct(col("i")).as("hits"))
      .filter(col("hits") === 4)
      .agg(count(lit(1)).as("n_false_pos"))
    val card = members.agg(count(lit(1)).as("n_members"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(probes.agg(count(lit(1)).as("n_probes")))
    card.crossJoin(broadcast(fp))
      .withColumn("fpr_ppm", expr("div(1000000 * n_false_pos, greatest(n_probes, 1L))"))
      .withColumn("fill_ppm", expr(s"div(1000000 * n_bits_set, ${mBits}L)"))
      // (bits/m)^4 in ppm via two exact integer squarings — no libm pow
      .withColumn("r2_ppm", expr("div(fill_ppm * fill_ppm, 1000000L)"))
      .withColumn("est_fpr_ppm", expr("div(r2_ppm * r2_ppm, 1000000L)"))
      .select(col("n_members"), col("n_bits_set"), col("n_probes"), col("n_false_pos"),
        col("fpr_ppm"), col("fill_ppm"), col("est_fpr_ppm"))
  }

  /** Theil–Sen robust trend — the median-of-pairwise-slopes estimator that
    * survives the outlier days OLS folds into the fit: the daily revenue
    * series per event type (30 points) expands to its bounded pair set
    * (435 pairs), each pair contributes an exact integer slope in
    * cents-ppm/day (sign-split so truncation is toward zero in both
    * engines), and the estimate is the lower-median slope by rank. Output
    * per event type: days, pairs, the Theil–Sen slope, and the slope
    * range.
    *
    * Scale shape: the series is DOMAIN-bounded (days in a fixed window),
    * so the pair self-join is per-type constant work after one
    * map-side-combinable daily rollup — the corpus never pairs with
    * itself, only the 30-row profile does, partition-parallel per type. */
  def qTheilSen(spark: SparkSession, dir: String): DataFrame = {
    // tiny profile feeds both pair sides
    val daily = Materialize.shared(Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT)").as("d"))
      .agg(expr("sum(CAST(round(value * 100) AS BIGINT))").as("y")))
    val a = daily.select(col("event_type"), col("d").as("d1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("d").as("d2"), col("y").as("y2"))
    val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .withColumn("slope_ppm", expr(
        "CAST(sign(y2 - y1) AS BIGINT) * div(1000000 * abs(y2 - y1), d2 - d1)"))
    val ranked = slopes
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("slope_ppm"), col("d1"), col("d2"))))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    ranked.filter(expr("rk = div(n_pairs + 1, 2)"))
      .join(daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days")),
        Seq("event_type"))
      .join(slopes.groupBy(col("event_type"))
        .agg(min(col("slope_ppm")).as("min_slope_ppm"),
          max(col("slope_ppm")).as("max_slope_ppm")), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_ppm").as("ts_slope_ppm"),
        col("min_slope_ppm"), col("max_slope_ppm"))
      .orderBy(col("event_type"))
  }

  /** Population Stability Index — the train/serve feature-drift score every
    * model monitor computes between a reference window and the current one.
    * Here: events.value binned into 10 fixed $50 buckets (domain [0, 500)),
    * reference = first two weeks vs current = the rest of the month; add-one
    * (Laplace) smoothing so an empty bucket contributes a finite term
    * instead of ln(0). Per-bucket contribution (p−q)·ln(p/q) is ppm-floored
    * into an integer BEFORE the total sum (the q_chisq discipline), so the
    * headline PSI is an order-independent integer both engines agree on
    * bit-for-bit.
    *
    * Scale shape: ONE map-side-combinable aggregation over the fact (two
    * conditional counts per bucket), then all windows/joins run on the
    * 10-row bucket spine. The spine left-join keeps structurally-empty
    * buckets in the score — at 100 TB a bucket the current window never
    * hits is exactly the drift signal PSI exists to catch. */
  def qPsi(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val counts = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .withColumn("bucket", least(lit(9L), floor(col("value") / 50.0)))
      .groupBy(col("bucket"))
      .agg(count(when(col("ts") < cut, 1)).as("n_ref"),
        count(when(col("ts") >= cut, 1)).as("n_cur"))
    val spine = spark.range(0, 10).select(col("id").as("bucket"))
    val wall = Window.partitionBy()
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("t_ref", sum(col("n_ref")).over(wall))
      .withColumn("t_cur", sum(col("n_cur")).over(wall))
      .withColumn("psi_ppm", expr(
        """CAST(FLOOR((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE)
          |      - CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE))
          |  * LN((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE))
          |      / (CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE)))
          |  * 1000000 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("psi_total_ppm", sum(col("psi_ppm")).over(wall))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        col("psi_ppm"), col("psi_total_ppm"))
      .orderBy(col("bucket"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the click and
    * purchase value distributions — the nonparametric "did these two
    * populations come from the same distribution" test a pipeline runs
    * when PSI's fixed bins are too coarse. D = max over the merged value
    * domain of |F₁(x) − F₂(x)|; each empirical CDF point Cᵢ/nᵢ is one IEEE
    * division of exactly-represented integers, so both engines score every
    * candidate x identically and the argmax (ties broken by smallest value)
    * is deterministic.
    *
    * Scale shape: the global cumulative counts are running sums over the
    * per-value counts ([[Windows.chunkedRunningSums]]) chunked by $25 of
    * price (a ~20-row chunk table), where a single ORDER-BY-value window
    * would serialize the 100 TB sort into one reducer; the group totals
    * are the population sizes. The final argmax is a TakeOrdered top-1,
    * not a driver collect. */
  def qKsDrift(spark: SparkSession, dir: String): DataFrame = {
    val perPc = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isin("click", "purchase"))
      .groupBy(expr("CAST(round(value * 100) AS BIGINT)").as("pc"))
      .agg(count(when(col("event_type") === "click", 1)).as("k1"),
        count(when(col("event_type") === "purchase", 1)).as("k2"))
      .withColumn("chunk", expr("pc div 2500"))
    Windows.chunkedRunningSums(perPc, Nil, "chunk", Seq(col("pc")),
        "c1" -> col("k1"), "c2" -> col("k2"))
      .withColumnRenamed("c1_total", "n1")
      .withColumnRenamed("c2_total", "n2")
      .withColumn("diff", expr(
        "abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"))
      .orderBy(col("diff").desc, col("pc"))
      .limit(1)
      .select(lit("click").as("pop_a"), lit("purchase").as("pop_b"),
        col("n1"), col("n2"), col("pc").as("arg_pc"),
        expr("CAST(FLOOR(diff * 1000000 + 0.5) AS BIGINT)").as("ks_ppm"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test between the click
    * and purchase value distributions — the RANK-based sibling of
    * [[qKsDrift]]'s CDF sup-distance: U detects stochastic dominance
    * (one population's values systematically larger) where KS detects any
    * shape difference. Ranks are midranks over the exact-cent spine; with
    * ties the midrank 2·C(v)+t+1 is an odd-integer DOUBLE of the average
    * rank, so every statistic is exact BIGINT arithmetic end to end:
    * U1_2x = Σ k1·(2C+t+1) − n1(n1+1), E[2·U1] = n1·n2, and the
    * tie-correction term Σ(t³−t) is emitted for a downstream variance
    * computation. No float, no sqrt — the certificate publishes the exact
    * integers a z-score would be assembled from.
    *
    * Scale shape: identical to [[qKsDrift]] — one per-cent-value rollup
    * (map-side combinable; the spine is bounded by value granularity, not
    * row count), then the chunked global cumsum; C is the exclusive sum.
    * No single-reducer global sort at any size. */
  def qMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("pop"),
        expr("CAST(round(value * 100) AS BIGINT)").as("pc"))
    val perPc = ev.groupBy(col("pc"))
      .agg(count(when(col("pop") === "click", 1)).as("k1"),
        count(when(col("pop") === "purchase", 1)).as("k2"))
      .withColumn("t", col("k1") + col("k2"))
      .withColumn("chunk", expr("pc div 2500"))
    val tot = ev.groupBy().agg(
      count(when(col("pop") === "click", 1)).as("n1"),
      count(when(col("pop") === "purchase", 1)).as("n2"))
    Windows.chunkedRunningSums(perPc, Nil, "chunk", Seq(col("pc")), "c" -> col("t"))
      .withColumn("c_before", col("c") - col("t"))
      .agg(sum(expr("k1 * (2 * c_before + t + 1)")).as("r1_2x"),
        sum(expr("t * t * t - t")).as("tie_cubes"))
      .crossJoin(broadcast(tot))
      .select(lit("click").as("pop_a"), lit("purchase").as("pop_b"),
        col("n1"), col("n2"),
        (col("r1_2x") - expr("n1 * (n1 + 1)")).as("u1_2x"),
        expr("n1 * n2").as("mu_2x"),
        (col("r1_2x") - expr("n1 * (n1 + 1) + n1 * n2")).as("delta_2x"),
        col("tie_cubes"))
  }

  /** Gini coefficient of per-customer revenue — the concentration
    * certificate a capacity planner reads before sharding on a key: G≈0
    * means customer-keyed partitions balance; G→1 means a few whales own
    * the table and the key needs salting ([[qSkewAudit]] profiles count
    * skew; this weighs VALUE skew). Exact arithmetic throughout:
    * G = (2·Σᵢ i·vᵢ − (n+1)·Σv) / (n·Σv) over ascending-ranked integer
    * cent totals, with ties folded through the value histogram — a run of
    * k equal values starting after C predecessors contributes
    * v·k·(2C+k+1) to 2·Σ i·vᵢ regardless of intra-tie order, so the
    * statistic is deterministic without a total order on customers.
    * Values are WHOLE DOLLARS (the [[graft.ops.FeaturePrep.qTreeSplit]]
    * unit discipline, not the house cents): the rank sum ≈ 2n·Σv is
    * ~4.6·10¹⁶ at sf1 in dollars but would hit the Long wall near sf2–3
    * in cents — and it is additionally ACCUMULATED in DECIMAL(38,0) /
    * HUGEINT (not merely quotient-cast after a Long sum), so the headline
    * gini_ppm stays exact arbitrarily far; only the BIGINT certificate
    * columns gini_num/gini_den bound the envelope, at ~sf14 (gini_den =
    * n·Σv grows quadratically in sf), past which Spark nulls and DuckDB
    * errors — loud on both engines, never silently wrong.
    *
    * Scale shape: one groupBy per customer (map-side combinable), one
    * groupBy per distinct TOTAL (bounded by value granularity), then the
    * chunked cumsum over the value spine ([[Windows.chunkedRunningSums]],
    * $100k chunks); C is the exclusive sum. */
  def qGini(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT)")).as("v"))
    val perVal = perCust.groupBy(col("v")).agg(count(lit(1)).as("k"))
      .withColumn("chunk", expr("v div 100000"))
    Windows.chunkedRunningSums(perVal, Nil, "chunk", Seq(col("v")), "c" -> col("k"))
      .withColumn("c_before", col("c") - col("k"))
      .agg(sum(col("k")).as("n"),
        sum(expr("v * k")).as("sum_v"),
        sum(expr("""CAST(v AS DECIMAL(18,0)) * CAST(k AS DECIMAL(10,0))
                   |  * CAST(2 * c_before + k + 1 AS DECIMAL(19,0))""".stripMargin))
          .as("two_rank_sum"))
      .select(col("n").as("n_customers"), col("sum_v").as("total_dollars"),
        expr("CAST(two_rank_sum - CAST(n + 1 AS DECIMAL(20,0)) * sum_v AS BIGINT)")
          .as("gini_num"),
        expr("CAST(CAST(n AS DECIMAL(20,0)) * sum_v AS BIGINT)").as("gini_den"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0))
               |  * (two_rank_sum - CAST(n + 1 AS DECIMAL(20,0)) * sum_v))
               |  div (CAST(n AS DECIMAL(20,0)) * sum_v) AS BIGINT)""".stripMargin)
          .as("gini_ppm"))
  }

  /** Mutual information between documents.lang and documents.source in ppm
    * — the feature-dependence audit run before stratifying a corpus on two
    * axes (independent axes ⇒ MI ≈ 0 ⇒ stratifying on both buys nothing).
    * Cell contribution (n/t)·ln(n·t / (n_l·n_s)) follows the q_ngram_pmi ln
    * discipline on exactly-cast doubles and is ppm-floored per cell before
    * the total (the q_chisq shape), so the headline MI is an integer sum.
    *
    * Scale shape: one map-side-combinable (lang, source) count — every
    * margin and the total are windows over the |langs|·|sources| CELL table
    * (bounded by vocabulary, not corpus), mirroring q_chisq exactly. */
  def qMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val wall = Window.partitionBy()
    cells
      .withColumn("n_l", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("n_s", sum(col("n")).over(Window.partitionBy(col("source"))))
      .withColumn("t", sum(col("n")).over(wall))
      .withColumn("mi_ppm", expr(
        """CAST(FLOOR(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
          |  * LN(CAST(n AS DOUBLE) * CAST(t AS DOUBLE)
          |       / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))
          |  * 1000000 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("mi_total_ppm", sum(col("mi_ppm")).over(wall))
      .select(col("lang"), col("source"), col("n"),
        col("mi_ppm"), col("mi_total_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  /** Generated from the SAME bootConsts/bootW family as the Spark columns
    * (DuckDB CASE over the affine transform of the shared md5 residue). */
  private val bootstrapCiOracle: String = {
    def w(r: Int): String = {
      val (a, b) = bootConsts(r)
      s"CASE ((h * $a + $b) % $BootM) % 4 WHEN 0 THEN 2 WHEN 1 THEN 0 ELSE 1 END"
    }
    val aggCols = (0 until 32).map { r =>
      s"CAST(SUM((${w(r)}) * cents) AS BIGINT) AS ws$r, " +
        s"CAST(SUM(${w(r)}) AS BIGINT) AS wn$r"
    }.mkString(",\n      |         ")
    val branches = (0 until 32).map { r =>
      s"SELECT $r AS rep, ws$r AS wsum, wn$r AS wn FROM one"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH base AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 15)
      |              AS BIGINT) % $BootM AS h
      |  FROM orders),
      |one AS (
      |  SELECT $aggCols
      |  FROM base),
      |per AS (
      |  $branches),
      |m AS (SELECT rep, wsum // wn AS mean_cents FROM per),
      |r AS (SELECT rep, mean_cents,
      |             ROW_NUMBER() OVER (ORDER BY mean_cents, rep) AS rk FROM m)
      |SELECT COUNT(*) AS n_reps,
      |       CAST(SUM(mean_cents) AS BIGINT) // COUNT(*) AS est_cents,
      |       MAX(CASE WHEN rk = 2 THEN mean_cents END) AS ci_lo_cents,
      |       MAX(CASE WHEN rk = 31 THEN mean_cents END) AS ci_hi_cents,
      |       MIN(mean_cents) AS min_cents,
      |       MAX(mean_cents) AS max_cents
      |FROM r""".stripMargin
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_psi" -> (qPsi _,
      """WITH ev AS (
        |  SELECT LEAST(9, CAST(FLOOR(value / 50.0) AS BIGINT)) AS bucket, ts
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cnt AS (
        |  SELECT bucket,
        |    COUNT(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-15 00:00:00') AS n_ref,
        |    COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') AS n_cur
        |  FROM ev GROUP BY bucket),
        |spine AS (SELECT UNNEST(RANGE(0, 10)) AS bucket),
        |filled AS (
        |  SELECT s.bucket,
        |         CAST(COALESCE(c.n_ref, 0) AS BIGINT) AS n_ref,
        |         CAST(COALESCE(c.n_cur, 0) AS BIGINT) AS n_cur
        |  FROM spine s LEFT JOIN cnt c USING (bucket)),
        |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
        |               CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM filled),
        |scored AS (
        |  SELECT bucket, n_ref, n_cur,
        |    CAST(FLOOR((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE)
        |          - CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE))
        |      * LN((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE))
        |          / (CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE)))
        |      * 1000000 + 0.5) AS BIGINT) AS psi_ppm
        |  FROM filled CROSS JOIN tot)
        |SELECT bucket, n_ref, n_cur, psi_ppm,
        |       CAST(SUM(psi_ppm) OVER () AS BIGINT) AS psi_total_ppm
        |FROM scored ORDER BY bucket""".stripMargin),
    "q_ks_drift" -> (qKsDrift _,
      """WITH ev AS (
        |  SELECT event_type AS pop, CAST(ROUND(value * 100) AS BIGINT) AS pc
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |per_pc AS (
        |  SELECT pc,
        |    COUNT(*) FILTER (WHERE pop = 'click')    AS k1,
        |    COUNT(*) FILTER (WHERE pop = 'purchase') AS k2
        |  FROM ev GROUP BY pc),
        |tot AS (
        |  SELECT COUNT(*) FILTER (WHERE pop = 'click')    AS n1,
        |         COUNT(*) FILTER (WHERE pop = 'purchase') AS n2 FROM ev),
        |cum AS (
        |  SELECT pc,
        |    CAST(SUM(k1) OVER (ORDER BY pc) AS BIGINT) AS c1,
        |    CAST(SUM(k2) OVER (ORDER BY pc) AS BIGINT) AS c2
        |  FROM per_pc),
        |scored AS (
        |  SELECT pc, n1, n2,
        |    ABS(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |        - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS diff
        |  FROM cum CROSS JOIN tot)
        |SELECT 'click' AS pop_a, 'purchase' AS pop_b, n1, n2, pc AS arg_pc,
        |       CAST(FLOOR(diff * 1000000 + 0.5) AS BIGINT) AS ks_ppm
        |FROM scored ORDER BY diff DESC, pc LIMIT 1""".stripMargin),
    "q_mann_whitney" -> (qMannWhitney _,
      """WITH ev AS (
        |  SELECT event_type AS pop, CAST(ROUND(value * 100) AS BIGINT) AS pc
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |per AS (
        |  SELECT pc,
        |    CAST(COUNT(*) FILTER (WHERE pop = 'click') AS BIGINT) AS k1,
        |    CAST(COUNT(*) FILTER (WHERE pop = 'purchase') AS BIGINT) AS k2
        |  FROM ev GROUP BY pc),
        |w AS (
        |  SELECT pc, k1, k2, k1 + k2 AS t,
        |    COALESCE(SUM(k1 + k2) OVER (ORDER BY pc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
        |  FROM per),
        |tot AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
        |               CAST(SUM(k2) AS BIGINT) AS n2 FROM per)
        |SELECT 'click' AS pop_a, 'purchase' AS pop_b, n1, n2,
        |  CAST(SUM(k1 * (2 * c_before + t + 1)) AS BIGINT) - n1 * (n1 + 1) AS u1_2x,
        |  n1 * n2 AS mu_2x,
        |  CAST(SUM(k1 * (2 * c_before + t + 1)) AS BIGINT)
        |    - (n1 * (n1 + 1) + n1 * n2) AS delta_2x,
        |  CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cubes
        |FROM w CROSS JOIN tot GROUP BY n1, n2""".stripMargin),
    "q_gini" -> (qGini _,
      """WITH pc AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY o_custkey),
        |pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM pc GROUP BY v),
        |w AS (
        |  SELECT v, k,
        |    COALESCE(SUM(k) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
        |  FROM pv),
        |agg AS (
        |  SELECT CAST(SUM(k) AS BIGINT) AS n,
        |         CAST(SUM(v * k) AS BIGINT) AS sum_v,
        |         SUM(CAST(v AS HUGEINT) * k * (2 * c_before + k + 1)) AS two_rank_sum
        |  FROM w)
        |SELECT n AS n_customers, sum_v AS total_dollars,
        |       CAST(two_rank_sum - CAST(n + 1 AS HUGEINT) * sum_v AS BIGINT) AS gini_num,
        |       CAST(CAST(n AS HUGEINT) * sum_v AS BIGINT) AS gini_den,
        |       CAST((1000000::HUGEINT * (two_rank_sum - CAST(n + 1 AS HUGEINT) * sum_v))
        |            // (CAST(n AS HUGEINT) * sum_v) AS BIGINT) AS gini_ppm
        |FROM agg""".stripMargin),
    "q_mutual_info" -> (qMutualInfo _,
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source),
        |m AS (
        |  SELECT lang, source, n,
        |         CAST(SUM(n) OVER (PARTITION BY lang)   AS BIGINT) AS n_l,
        |         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS n_s,
        |         CAST(SUM(n) OVER ()                    AS BIGINT) AS t
        |  FROM cells),
        |scored AS (
        |  SELECT lang, source, n,
        |    CAST(FLOOR(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
        |      * LN(CAST(n AS DOUBLE) * CAST(t AS DOUBLE)
        |           / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))
        |      * 1000000 + 0.5) AS BIGINT) AS mi_ppm
        |  FROM m)
        |SELECT lang, source, n, mi_ppm,
        |       CAST(SUM(mi_ppm) OVER () AS BIGINT) AS mi_total_ppm
        |FROM scored ORDER BY lang, source""".stripMargin),
    "q_f2_sketch" -> (qF2Sketch _,
      """WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
        |cells AS (
        |  SELECT j AS row_id,
        |         CAST('0x' || SUBSTR(MD5(CAST(j AS VARCHAR) || ':' || k), 1, 15)
        |              AS BIGINT) % 256 AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cell
        |  FROM keys, UNNEST(RANGE(0, 4)) AS t(j)
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT MIN(row_est) AS f2_est FROM (
        |    SELECT row_id, CAST(SUM(cell * cell) AS BIGINT) AS row_est
        |    FROM cells GROUP BY 1)),
        |exact AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         CAST(SUM(c * c) AS BIGINT) AS f2_exact
        |  FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM keys GROUP BY k))
        |SELECT n_keys, f2_exact, f2_est,
        |       (1000000 * (f2_est - f2_exact)) // f2_exact AS over_ppm
        |FROM exact CROSS JOIN est""".stripMargin),
    "q_bloom_fpr" -> (qBloomFpr _,
      """WITH members AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |bits AS (
        |  SELECT DISTINCT
        |         CAST('0x' || SUBSTR(MD5('bf' || CAST(i AS VARCHAR) || ':'
        |              || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
        |  FROM members, UNNEST(RANGE(0, 4)) AS t(i)),
        |probes AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM members)),
        |hits AS (
        |  SELECT p.c_custkey, COUNT(DISTINCT t.i) AS nhit
        |  FROM probes p, UNNEST(RANGE(0, 4)) AS t(i)
        |  JOIN bits b ON b.pos =
        |       CAST('0x' || SUBSTR(MD5('bf' || CAST(t.i AS VARCHAR) || ':'
        |            || CAST(p.c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 16384
        |  GROUP BY 1),
        |fp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_false_pos FROM hits WHERE nhit = 4),
        |card AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes)
        |SELECT n_members, n_bits_set, n_probes, n_false_pos,
        |       (1000000 * n_false_pos) // GREATEST(n_probes, 1) AS fpr_ppm,
        |       (1000000 * n_bits_set) // 16384 AS fill_ppm,
        |       ((((1000000 * n_bits_set) // 16384) * ((1000000 * n_bits_set) // 16384))
        |          // 1000000)
        |       * ((((1000000 * n_bits_set) // 16384) * ((1000000 * n_bits_set) // 16384))
        |          // 1000000) // 1000000 AS est_fpr_ppm
        |FROM card CROSS JOIN fp""".stripMargin),
    "q_theil_sen" -> (qTheilSen _,
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type, a.d AS d1, b.d AS d2,
        |         CAST(SIGN(b.y - a.y) AS BIGINT)
        |           * ((1000000 * ABS(b.y - a.y)) // (b.d - a.d)) AS slope_ppm
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d < b.d),
        |ranked AS (
        |  SELECT event_type, slope_ppm,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY slope_ppm, d1, d2) AS rk,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM slopes),
        |med AS (
        |  SELECT event_type, n_pairs, slope_ppm AS ts_slope_ppm
        |  FROM ranked WHERE rk = (n_pairs + 1) // 2),
        |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |       FROM daily GROUP BY 1),
        |rng AS (SELECT event_type, MIN(slope_ppm) AS min_slope_ppm,
        |               MAX(slope_ppm) AS max_slope_ppm
        |        FROM slopes GROUP BY 1)
        |SELECT m.event_type, n_days, CAST(n_pairs AS BIGINT) AS n_pairs, ts_slope_ppm,
        |       min_slope_ppm, max_slope_ppm
        |FROM med m JOIN nd ON nd.event_type = m.event_type
        |JOIN rng ON rng.event_type = m.event_type
        |ORDER BY m.event_type""".stripMargin),
    "q_forecast_holt" -> (qForecastHolt _,
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |seq AS (
        |  SELECT event_type, d, y,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
        |  FROM daily),
        |holt AS (
        |  SELECT event_type, d, y, rn, y AS level, CAST(0 AS BIGINT) AS trend
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.d, s.y, s.rn,
        |         (s.y + h.level + h.trend) // 2 AS level,
        |         (((s.y + h.level + h.trend) // 2) - h.level + h.trend) // 2 AS trend
        |  FROM seq s JOIN holt h
        |    ON s.event_type = h.event_type AND s.rn = h.rn + 1)
        |SELECT event_type, d, y AS y_cents, level, trend,
        |       level + 7 * trend AS forecast7
        |FROM holt ORDER BY event_type, d""".stripMargin),
    "q_dq_rules" -> (qDqRules _,
      """WITH o AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |              AS BIGINT) AS v_status
        |  FROM orders),
        |uq AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(c - 1) AS BIGINT) AS v
        |  FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey)),
        |l AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS v_qty,
        |         CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS v_disc
        |  FROM lineitem),
        |fk AS (
        |  SELECT (SELECT COUNT(*) FROM lineitem) AS n,
        |         (SELECT COUNT(*) FROM lineitem li
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_orderkey = li.l_orderkey)) AS v),
        |rules AS (
        |  SELECT 'orders_custkey_not_null' AS rule, n AS n_rows, v_null AS n_violations FROM o
        |  UNION ALL SELECT 'orders_price_positive', n, v_price FROM o
        |  UNION ALL SELECT 'orders_status_domain', n, v_status FROM o
        |  UNION ALL SELECT 'orders_orderkey_unique', n_keys, v FROM uq
        |  UNION ALL SELECT 'lineitem_quantity_range', n, v_qty FROM l
        |  UNION ALL SELECT 'lineitem_discount_range', n, v_disc FROM l
        |  UNION ALL SELECT 'lineitem_fk_orders', n, v FROM fk)
        |SELECT rule, n_rows, n_violations,
        |       CASE WHEN n_rows = 0 THEN 0
        |            ELSE (1000000 * n_violations) // n_rows END AS violation_ppm
        |FROM rules ORDER BY rule""".stripMargin),
    "q_bootstrap_ci" -> (qBootstrapCi _, bootstrapCiOracle),
    "q_acf" -> (qAcf _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(COUNT(*) AS HUGEINT)
        |           * (COUNT(*) * CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT)
        |              - CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT)
        |                * CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT)) AS den
        |  FROM daily GROUP BY event_type),
        |lags AS (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS k)
        |SELECT a.event_type, k.k, COUNT(*) AS n_pairs,
        |       ROUND(CAST(SUM((CAST(st.n AS HUGEINT) * a.x - st.s)
        |                      * (CAST(st.n AS HUGEINT) * b.x - st.s)) AS DOUBLE)
        |             / CAST(st.den AS DOUBLE), 6) + 0.0 AS acf
        |FROM daily a CROSS JOIN lags k
        |JOIN daily b ON b.event_type = a.event_type AND b.d = a.d + k.k
        |JOIN stats st ON st.event_type = a.event_type
        |WHERE st.den > 0
        |GROUP BY a.event_type, k.k, st.den
        |ORDER BY a.event_type, k.k""".stripMargin),
    "q_seasonal_decompose" -> (qSeasonalDecompose _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, d, y,
        |         COUNT(*) OVER w AS n7,
        |         CAST(SUM(CAST(y AS HUGEINT)) OVER w AS HUGEINT) AS t7,
        |         DAYOFWEEK(d) AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |full7 AS (
        |  SELECT *, CAST(y AS HUGEINT) * 7 - t7 AS r7 FROM t WHERE n7 = 7),
        |eff AS (
        |  SELECT event_type, dow, COUNT(*) AS ne,
        |         CAST(SUM(r7) AS HUGEINT) AS se
        |  FROM full7 GROUP BY 1, 2)
        |SELECT f.event_type, f.d, CAST(f.y AS DOUBLE) / 100.0 AS daily_sum,
        |       ROUND(CAST(f.t7 AS DOUBLE) / 700.0, 6) AS trend,
        |       ROUND(CAST(e.se AS DOUBLE) / CAST(e.ne * 7 AS DOUBLE) / 100.0, 6)
        |         AS dow_effect,
        |       ROUND(CAST(f.y AS DOUBLE) / 100.0 - CAST(f.t7 AS DOUBLE) / 700.0
        |             - CAST(e.se AS DOUBLE) / CAST(e.ne * 7 AS DOUBLE) / 100.0, 6) + 0.0
        |         AS residual
        |FROM full7 f JOIN eff e ON f.event_type = e.event_type AND f.dow = e.dow
        |ORDER BY f.event_type, f.d""".stripMargin),
    "q_freshness" -> (qFreshness _,
      """WITH horizon AS (SELECT MAX(ts) AS h FROM events),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n_events,
        |         MIN(ts) AS first_ts, MAX(ts) AS last_ts
        |  FROM events GROUP BY event_type)
        |SELECT g.event_type, g.n_events, g.first_ts, g.last_ts,
        |       ROUND(CAST(EPOCH_US(h.h) - EPOCH_US(g.last_ts) AS DOUBLE)
        |             / 86400000000.0, 6) AS lag_days,
        |       EPOCH_US(h.h) - EPOCH_US(g.last_ts) >= 172800000000 AS stale,
        |       ROUND(CAST(g.n_events AS DOUBLE)
        |             / CAST(DATE_DIFF('day', CAST(g.first_ts AS DATE),
        |                    CAST(g.last_ts AS DATE)) + 1 AS DOUBLE), 6) AS events_per_day
        |FROM g CROSS JOIN horizon h
        |ORDER BY g.event_type""".stripMargin),
    "q_ldiversity" -> (qLdiversity _,
      """SELECT c_nationkey, COUNT(*) AS n_rows,
        |       COUNT(DISTINCT c_mktsegment) AS l_div,
        |       COUNT(DISTINCT c_mktsegment) >= 5 AS diverse
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
    "q_tclose" -> (qTclose _,
      """WITH cust AS (SELECT c_nationkey, c_mktsegment FROM customer),
        |gcnt AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS c_gv
        |         FROM cust GROUP BY 1, 2),
        |gtot AS (SELECT c_nationkey, CAST(SUM(c_gv) AS BIGINT) AS n_g
        |         FROM gcnt GROUP BY 1),
        |vcnt AS (SELECT c_mktsegment, COUNT(*) AS c_v FROM cust GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM cust),
        |grid AS (SELECT g.c_nationkey, g.n_g, v.c_mktsegment, v.c_v, t.n
        |         FROM gtot g CROSS JOIN vcnt v CROSS JOIN tot t),
        |d AS (SELECT grid.c_nationkey, grid.n_g,
        |             ABS((1000000 * COALESCE(gc.c_gv, 0)) // grid.n_g
        |                 - (1000000 * grid.c_v) // grid.n) AS d
        |      FROM grid LEFT JOIN gcnt gc
        |        ON grid.c_nationkey = gc.c_nationkey
        |       AND grid.c_mktsegment = gc.c_mktsegment),
        |agg AS (SELECT c_nationkey, n_g AS n_rows,
        |               CAST(SUM(d) AS BIGINT) AS l1_ppm
        |        FROM d GROUP BY 1, 2)
        |SELECT c_nationkey, n_rows, l1_ppm,
        |       CAST(l1_ppm // 2 AS BIGINT) AS tv_ppm,
        |       (l1_ppm // 2) > 200000 AS breach
        |FROM agg ORDER BY c_nationkey""".stripMargin),
    "q_anomaly_seasonal" -> (qAnomalySeasonal _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, DAYOFWEEK(CAST(ts AS DATE)) AS dow,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT event_type, dow, COUNT(*) AS n,
        |         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s
        |  FROM daily GROUP BY 1, 2
        |  HAVING COUNT(*) > 1 AND SUM(CAST(y AS HUGEINT)) > 0)
        |SELECT d.event_type, d.d, CAST(d.y AS DOUBLE) / 100.0 AS daily_sum,
        |       ROUND(CAST(CAST(d.y AS HUGEINT) * b.n AS DOUBLE) / CAST(b.s AS DOUBLE), 6)
        |         AS seasonal_ratio
        |FROM daily d JOIN base b ON d.event_type = b.event_type AND d.dow = b.dow
        |WHERE CAST(d.y AS HUGEINT) * b.n * 5 < b.s * 4
        |   OR CAST(d.y AS HUGEINT) * b.n * 4 > b.s * 5
        |ORDER BY d.event_type, d.d""".stripMargin),
    "q_changepoint_cusum" -> (qChangepointCusum _,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, d,
        |         ROW_NUMBER() OVER w AS idx,
        |         CAST(SUM(CAST(y AS HUGEINT)) OVER (PARTITION BY event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS p
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS nn, CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS ss
        |  FROM daily GROUP BY 1 HAVING COUNT(*) > 2),
        |c AS (
        |  SELECT p.event_type, p.d, t.nn,
        |         CAST(t.nn AS HUGEINT) * p.p - CAST(p.idx AS HUGEINT) * t.ss AS c
        |  FROM pre p JOIN tot t USING (event_type)),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ABS(c) DESC, d) AS rn FROM c)
        |SELECT event_type, d AS change_day,
        |       ROUND(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0, 6) AS cusum
        |FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin),
    "q_kanon" -> (qKanon _,
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |summary AS (
        |  SELECT MIN(cnt) AS k_anon, COUNT(*) AS n_classes,
        |         (1000000 * CAST(SUM(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT))
        |           // CAST(SUM(cnt) AS BIGINT) AS risky_ppm
        |  FROM cls)
        |SELECT c_nationkey, c_mktsegment, cnt, k_anon, n_classes, risky_ppm
        |FROM cls CROSS JOIN summary
        |WHERE cnt < 10
        |ORDER BY cnt, c_nationkey, c_mktsegment""".stripMargin),
    "q_skew_audit" -> (qSkewAudit _,
      """WITH cnts AS (
        |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey),
        |summary AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys,
        |         MAX(cnt) AS max_cnt
        |  FROM cnts),
        |top AS (
        |  SELECT l_partkey, cnt FROM cnts
        |  ORDER BY cnt DESC, l_partkey LIMIT 10)
        |SELECT l_partkey, cnt,
        |       (1000000 * cnt) // total AS share_ppm,
        |       (1000 * max_cnt * n_keys) // total AS skew_x1000
        |FROM top CROSS JOIN summary
        |ORDER BY cnt DESC, l_partkey""".stripMargin),
    "q_anomaly_mad" -> (qAnomalyMad _,
      """WITH cents AS (
        |  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
        |  FROM events),
        |r1 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM cents),
        |med AS (
        |  SELECT event_type,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN c END) AS med_c
        |  FROM r1 GROUP BY event_type),
        |devs AS (
        |  SELECT c.event_type, c.event_id, c.c, ABS(c.c - m.med_c) AS dev, m.med_c
        |  FROM cents c JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM devs),
        |mad AS (
        |  SELECT event_type,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN dev END) AS med_dev
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n,
        |       CAST(MIN(d.med_c) AS DOUBLE) / 100.0 AS median,
        |       CAST(MIN(m.med_dev) AS DOUBLE) / 100.0 AS mad,
        |       CAST(SUM(CASE WHEN 6745 * d.dev > 35000 * m.med_dev THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM devs d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
    "q_benford" -> (qBenford _, {
      val expSql = (1 to 9).map(d => s"WHEN digit = $d THEN ${BenfordPpm(d)}")
        .mkString("CASE ", " ", " END")
      s"""WITH digits AS (
         |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
         |              AS INT) AS digit
         |  FROM orders),
         |cnt AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit)
         |SELECT digit, n,
         |       (1000000 * n) // CAST(SUM(n) OVER () AS BIGINT) AS obs_ppm,
         |       $expSql AS exp_ppm,
         |       ABS((1000000 * n) // CAST(SUM(n) OVER () AS BIGINT) - ($expSql))
         |         AS dev_ppm
         |FROM cnt ORDER BY digit""".stripMargin
    }),
    "q_outlier_iqr" -> (qOutlierIqr _,
      """WITH cents AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
        |ranked AS (
        |  SELECT event_type, c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM cents),
        |bounds AS (
        |  SELECT event_type,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN c END) AS q1,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN c END) AS q3
        |  FROM ranked GROUP BY event_type)
        |SELECT c.event_type, COUNT(*) AS n,
        |       CAST(MIN(q1) AS DOUBLE) / 100.0 AS q1,
        |       CAST(MIN(q3) AS DOUBLE) / 100.0 AS q3,
        |       CAST(SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
        |       CAST(SUM(CASE WHEN 2 * c > 5 * q3 - 3 * q1 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi,
        |       ROUND(CAST(SUM(CASE WHEN 2 * c < 5 * q1 - 3 * q3 THEN 1 ELSE 0 END)
        |                + SUM(CASE WHEN 2 * c > 5 * q3 - 3 * q1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*) * 100, 4) AS pct_out
        |FROM cents c JOIN bounds b USING (event_type)
        |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin),
    "q_corr_matrix" -> (qCorrMatrix _,
      """WITH cents AS (
        |  SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS a,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS b,
        |         CAST(ROUND(l_discount * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |         SUM(CAST(a AS DECIMAL(38,0))) AS sa, SUM(CAST(b AS DECIMAL(38,0))) AS sb,
        |         SUM(CAST(c AS DECIMAL(38,0))) AS sc,
        |         SUM(CAST(a*a AS DECIMAL(38,0))) AS saa, SUM(CAST(b*b AS DECIMAL(38,0))) AS sbb,
        |         SUM(CAST(c*c AS DECIMAL(38,0))) AS scc,
        |         SUM(CAST(a*b AS DECIMAL(38,0))) AS sab, SUM(CAST(a*c AS DECIMAL(38,0))) AS sac,
        |         SUM(CAST(b*c AS DECIMAL(38,0))) AS sbc
        |  FROM cents)
        |SELECT 'quantity' AS col_a, 'extendedprice' AS col_b,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / (SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |       * SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) AS corr
        |FROM m
        |UNION ALL
        |SELECT 'quantity', 'discount',
        |  ROUND((CAST(n AS DOUBLE) * CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / (SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |       * SQRT(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
        |FROM m
        |UNION ALL
        |SELECT 'extendedprice', 'discount',
        |  ROUND((CAST(n AS DOUBLE) * CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / (SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |       * SQRT(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
        |FROM m
        |ORDER BY col_a, col_b""".stripMargin),
    "q_chisq" -> (qChisq _,
      """WITH cells AS (
        |  SELECT event_type, CAST(user_id % 3 AS BIGINT) AS cohort, COUNT(*) AS n
        |  FROM events GROUP BY event_type, CAST(user_id % 3 AS BIGINT)),
        |tot AS (
        |  SELECT event_type, cohort, n,
        |         SUM(n) OVER (PARTITION BY event_type) AS r,
        |         SUM(n) OVER (PARTITION BY cohort) AS c,
        |         SUM(n) OVER () AS t
        |  FROM cells),
        |scored AS (
        |  SELECT event_type, cohort, n, r, c, t,
        |         ((CAST(n AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |          * (CAST(n AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
        |           / (CAST(t AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) AS contrib
        |  FROM tot)
        |SELECT event_type, cohort, n,
        |       ROUND(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 4) AS expected,
        |       ROUND(contrib, 6) AS contrib,
        |       CAST(SUM(CAST(ROUND(contrib * 1e6) AS BIGINT)) OVER () AS DOUBLE) / 1e6
        |         AS chi2_total
        |FROM scored ORDER BY event_type, cohort""".stripMargin),
    "q_fk_audit" -> (qFkAudit _,
      """SELECT 'lineitem->orders' AS fk_edge, (SELECT COUNT(*) FROM lineitem) AS n_rows,
        |       (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
        |         (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders->customer', (SELECT COUNT(*) FROM orders),
        |       (SELECT COUNT(*) FROM orders WHERE NOT EXISTS
        |         (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |UNION ALL
        |SELECT 'customer->nation', (SELECT COUNT(*) FROM customer),
        |       (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
        |         (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
        |ORDER BY fk_edge""".stripMargin),
    "q_hist" -> (qHist _,
      """WITH b AS (
        |  SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |         o_totalprice,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders)
        |SELECT bucket, bucket * 25000.0 AS lo, COUNT(*) AS n,
        |       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |       ROUND(CAST(SUM(CAST(pc AS DECIMAL(38,0))) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE) / 100.0, 2) AS avg_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q_hist_equidepth" -> (qHistEquidepth _,
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY pc, o_orderkey) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM b)
        |SELECT bucket, COUNT(*) AS n_rows, MIN(o_totalprice) AS lo,
        |       MAX(o_totalprice) AS hi,
        |       ROUND(CAST(SUM(CAST(pc AS DECIMAL(38,0))) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE) / 100.0, 2) AS avg_price
        |FROM (SELECT *, ((rn - 1) * 8) // n + 1 AS bucket FROM r)
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q_profile" -> (qProfile _,
      """SELECT 'o_orderkey' AS col_name,
        |       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |       COUNT(DISTINCT o_orderkey) AS n_distinct,
        |       CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
        |       CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
        |       COUNT(DISTINCT o_custkey),
        |       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
        |       COUNT(DISTINCT o_totalprice),
        |       MIN(o_totalprice), MAX(o_totalprice)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
        |       COUNT(DISTINCT o_orderstatus),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END),
        |       COUNT(DISTINCT o_orderdate),
        |       CAST(EPOCH_US(MIN(o_orderdate)) AS DOUBLE),
        |       CAST(EPOCH_US(MAX(o_orderdate)) AS DOUBLE)
        |FROM orders
        |ORDER BY col_name""".stripMargin),
    "q_abtest" -> (qAbtest _,
      """WITH per AS (
        |  SELECT event_type, CAST(user_id % 2 AS INT) AS variant, COUNT(*) AS n,
        |         SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS s,
        |         SUM(CAST(CAST(ROUND(value * 100) AS BIGINT)
        |                  * CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS s2
        |  FROM events GROUP BY event_type, CAST(user_id % 2 AS INT)),
        |wide AS (
        |  SELECT event_type,
        |         MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        |         MAX(CASE WHEN variant = 0 THEN s END) AS s0,
        |         MAX(CASE WHEN variant = 0 THEN s2 END) AS s20,
        |         MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        |         MAX(CASE WHEN variant = 1 THEN s END) AS s1,
        |         MAX(CASE WHEN variant = 1 THEN s2 END) AS s21
        |  FROM per GROUP BY event_type
        |  HAVING MAX(CASE WHEN variant = 0 THEN n END) > 1
        |     AND MAX(CASE WHEN variant = 1 THEN n END) > 1),
        |v AS (
        |  SELECT event_type, n0, n1,
        |         CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS m0,
        |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS m1,
        |         (CAST(n0 AS DOUBLE) * CAST(s20 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |           / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)) AS v0,
        |         (CAST(n1 AS DOUBLE) * CAST(s21 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |           / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS v1
        |  FROM wide)
        |SELECT event_type, n0, n1,
        |       ROUND(m0, 4) AS mean0, ROUND(m1, 4) AS mean1,
        |       ROUND(((m0 - m1) * 100.0) / SQRT(v0 / n0 + v1 / n1), 4) AS t_welch,
        |       ROUND(((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1))
        |             / ((v0 / n0) * (v0 / n0) / (n0 - 1)
        |                + (v1 / n1) * (v1 / n1) / (n1 - 1)), 1) AS df
        |FROM v WHERE v0 + v1 > 0 ORDER BY event_type""".stripMargin),
    "q_anomaly_zscore" -> (qAnomalyZscore _,
      """WITH cents AS (
        |  SELECT event_id, event_type, value,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(CAST(vc AS DECIMAL(38,0))) AS sv,
        |         SUM(CAST(vc * vc AS DECIMAL(38,0))) AS sv2
        |  FROM cents GROUP BY event_type HAVING COUNT(*) > 1),
        |s AS (
        |  SELECT event_type,
        |         CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |         SQRT((CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS std_c
        |  FROM stats)
        |SELECT c.event_id, c.event_type, c.value,
        |       ROUND((CAST(c.vc AS DOUBLE) - s.mean_c) / s.std_c, 4) AS z
        |FROM cents c JOIN s USING (event_type)
        |WHERE s.std_c > 0
        |  AND ABS((CAST(c.vc AS DOUBLE) - s.mean_c) / s.std_c) > 2.5
        |ORDER BY c.event_id""".stripMargin),
    "q_hll_sketch" -> (qHllSketch _,
      """WITH regs AS (
        |  SELECT bucket, MAX(rho) AS m_b FROM (
        |    SELECT h % 256 AS bucket,
        |           CASE WHEN h // 256 = 0 THEN 53
        |                ELSE 53 - LENGTH(BIN(h // 256)) END AS rho
        |    FROM (SELECT CAST('0x' || SUBSTR(MD5('hll:' || CAST(l_partkey AS VARCHAR)), 1, 15)
        |                 AS BIGINT) AS h
        |          FROM lineitem))
        |  GROUP BY bucket),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
        |             CAST(MAX(m_b) AS BIGINT) AS r_max,
        |             CAST(SUM((bucket + 1) * m_b) AS BIGINT) AS reg_chk
        |      FROM regs),
        |hs AS (SELECT CAST(SUM(1::BIGINT << CAST(s.r_max - m_b AS INTEGER)) AS BIGINT) AS s_used
        |       FROM regs CROSS JOIN s),
        |sc AS (SELECT s.*, hs.s_used,
        |              hs.s_used + (256 - s.n_used) * (1::BIGINT << CAST(s.r_max AS INTEGER))
        |                AS s_scaled
        |       FROM s CROSS JOIN hs),
        |ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact FROM lineitem)
        |SELECT CAST(256 AS BIGINT) AS m, n_used, r_max, reg_chk, s_scaled,
        |       CAST(CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << CAST(r_max AS INTEGER))
        |            // (1000000::HUGEINT * s_scaled) AS BIGINT) AS hll_est,
        |       n_exact,
        |       (1000000 * ABS(CAST(CAST(718273 AS HUGEINT) * 65536
        |            * (1::HUGEINT << CAST(r_max AS INTEGER))
        |            // (1000000::HUGEINT * s_scaled) AS BIGINT) - n_exact)) // n_exact
        |         AS abs_err_ppm,
        |       CAST(CAST(718273 AS HUGEINT) * 65536 * (1::HUGEINT << CAST(r_max AS INTEGER))
        |            // (1000000::HUGEINT * s_scaled) AS BIGINT) >= n_exact AS over
        |FROM sc CROSS JOIN ex""".stripMargin),
    "q_count_min" -> (qCountMin _,
      """WITH toks AS (
        |  SELECT tok FROM (
        |    SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |rows4 AS (SELECT UNNEST([0, 1, 2, 3]) AS row_id),
        |cells AS (
        |  SELECT row_id,
        |         CAST('0x' || SUBSTR(MD5(CAST(row_id AS VARCHAR) || ':' || tok), 1, 15)
        |           AS BIGINT) % 256 AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cell
        |  FROM toks CROSS JOIN rows4 GROUP BY 1, 2),
        |top10 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
        |          FROM toks GROUP BY tok ORDER BY true_count DESC, tok LIMIT 10)
        |SELECT t.tok AS token, t.true_count, MIN(c.cell) AS cm_estimate,
        |       MIN(c.cell) - t.true_count AS overcount
        |FROM top10 t
        |CROSS JOIN rows4 r
        |JOIN cells c ON c.row_id = r.row_id AND c.bucket =
        |  CAST('0x' || SUBSTR(MD5(CAST(r.row_id AS VARCHAR) || ':' || t.tok), 1, 15)
        |    AS BIGINT) % 256
        |GROUP BY 1, 2
        |ORDER BY true_count DESC, token""".stripMargin),
    "q_slice_finder" -> (qSliceFinder _,
      """WITH per_doc AS (
        |  SELECT lang, source,
        |         (1000000 * CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT)) // LEN(toks)
        |           AS ratio_ppm
        |  FROM (SELECT lang, source, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks
        |        FROM documents)),
        |g AS (SELECT CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS global_avg_ppm
        |      FROM per_doc)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS slice_avg_ppm,
        |       g.global_avg_ppm,
        |       CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) - g.global_avg_ppm AS delta_ppm
        |FROM per_doc CROSS JOIN g
        |GROUP BY lang, source, g.global_avg_ppm
        |HAVING COUNT(*) >= 4
        |ORDER BY slice_avg_ppm ASC, lang, source
        |LIMIT 10""".stripMargin),
  )
}
