package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation surface (SURVEY.md §2.2): per-state/per-week rollups are the
  * canonical consultas over the reference lake's schema; its per-100k column
  * (reference dags/create-data-lake.py:74) is itself a precomputed
  * ratio-of-aggregates, recomputed here as `q_per_capita`.
  *
  * Scale notes: every groupBy below compiles to HashAggregateExec with
  * map-side partial aggregation — executors pre-combine before the single
  * shuffle on the group key, so network volume is O(groups), not O(rows).
  * Exact count-distinct expands to a two-phase plan (distinct shuffle then
  * count); at 100 TB prefer `approx_count_distinct` (HLL++, constant memory,
  * one pass — `q_agg_approx_distinct`). Rollup/cube evaluate as a single
  * Expand + one aggregation, not one job per grouping set.
  */
object Aggregations extends QueryModule {

  /** Grouped hash agg: the five classic aggregates in one pass. */
  def qAggGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(min(col("l_discount")), 2).as("min_disc"),
        round(max(col("l_discount")), 2).as("max_disc"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Global (no-group) aggregation — single row. */
  def qAggGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_total"),
        round(avg(col("o_totalprice")), 2).as("avg_total"),
        min(to_date(col("o_orderdate"))).as("first_day"),
        max(to_date(col("o_orderdate"))).as("last_day"))

  /** Exact distinct count per group (two-phase shuffle). */
  def qAggCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"))

  /** HLL++ approximate distinct — the 100 TB path — shaped as a per-group
    * ERROR-BOUND CERTIFICATE so the sketch is oracle-checkable: the raw
    * HLL estimate is engine-specific (DuckDB cannot replay Spark's
    * registers), but `|approx − exact| ≤ 5%·exact` is a decidable claim —
    * Spark computes both sides (HLL++ is deterministic on fixed data) and
    * emits the boolean; the oracle computes the exact count and emits
    * literal TRUE, so the hash matches iff the bound actually holds.
    * Output carries only exact integers and booleans — nothing
    * float-divergent. Production pipelines that can't afford the exact
    * side use the sketch alone and certify on a sample.
    *
    * One corpus pass, no Expand: mixing `countDistinct` with a
    * non-distinct aggregate makes Spark rewrite through an Expand that
    * replays every row once per aggregate class (measured 3.8 s at
    * sf0.1). Instead the (flag, part) pairs are deduped first — a
    * map-side-combinable partial aggregate — and BOTH sides run over the
    * distinct pairs: the exact count is a plain `count`, and HLL++ is
    * duplicate-insensitive (re-inserting a value cannot move a register),
    * so the sketch estimate is bit-identical to the raw-input sketch. */
  def qAggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("approx") - col("n_exact"))
          <= col("n_exact").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  /** Filtered/conditional aggregation: SUM(CASE WHEN), COUNT over predicate. */
  def qAggFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        round(sum(when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(lit(0.0))), 2).as("returned_value"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_discounted"))
      .orderBy(col("l_linestatus"))

  /** Ratio of aggregates: revenue per distinct customer by nation (the
    * per-100k-inhabitants shape from the reference, recomputed not stored). */
  def qPerCapita(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    // Sum in DECIMAL, not DOUBLE: float summation is accumulation-order-
    // sensitive, so the two engines feed *different* totals into any
    // rounding rule and diverge at decimal midpoints (observed at sf0.001:
    // 2219617.5949999997 → 2219617.6 vs .59). Decimal addition is exact and
    // order-independent; the final divide runs on identical doubles, and
    // floor(x·100+0.5)/100 is the same IEEE arithmetic in both engines
    // (Spark's round() would go through BigDecimal(Double.toString)).
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((floor(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          / countDistinct(col("c_custkey")) * 100 + 0.5) / 100)
        .as("revenue_per_customer"))
      .orderBy(col("n_name"))
  }

  /** Exact interpolated percentiles (DuckDB quantile_cont twin), computed
    * DISTRIBUTIVELY: a window rank orders each group's values across
    * partitions (one shuffle-sort, O(1) state per row — never a per-group
    * collect_list, whose single row must hold the whole group and dies at
    * 100 TB), then only the two rows straddling each target rank survive a
    * conditional aggregation and interpolate: v = a[l] + (h-l)·(a[h]-a[l]),
    * h = (n-1)q. The interpolation arithmetic (decimal q literals, same
    * operation order) is unchanged from the collect_list formulation, so
    * the output — and the quantile_cont oracle match — is bit-identical.
    * (Spark's built-in exact `percentile` was measured worse than both:
    * its per-partition value→count hash map churns 4.5→11 s across runs.)
    * For sketch-tolerant pipelines percentile_approx remains the cheaper
    * single-pass path below. */
  def qAggPercentile(spark: SparkSession, dir: String): DataFrame = {
    // A flat row_number() over the 3-value l_returnflag would put a third
    // of lineitem in one task; the rank is chunked by $2000 of price.
    // Ties across equal v still need no value tie-break for correctness
    // (every rank assignment among them carries the same v); the id order
    // just pins the permutation.
    val l = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("chunk", floor(col("v") / lit(2000.0)))
    val ranked = Windows.chunkedRunningSums(l, Seq("l_returnflag"), "chunk",
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn" -> lit(1L))
      .withColumnRenamed("rn_total", "n")
    def lo(q: String) = max(when(expr(s"rn = CAST(floor((n - 1) * $q) AS INT) + 1"), col("v")))
    def hi(q: String) = max(when(expr(s"rn = CAST(ceil((n - 1) * $q) AS INT) + 1"), col("v")))
    def interp(q: String, l: String, h: String): org.apache.spark.sql.Column =
      round(expr(s"$l + ((n - 1) * $q - floor((n - 1) * $q)) * ($h - $l)"), 4)
    ranked.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        lo("0.25").as("lo25"), hi("0.25").as("hi25"),
        lo("0.5").as("lo50"), hi("0.5").as("hi50"),
        lo("0.75").as("lo75"), hi("0.75").as("hi75"))
      .select(col("l_returnflag"),
        interp("0.25", "lo25", "hi25").as("p25"),
        interp("0.5", "lo50", "hi50").as("p50"),
        interp("0.75", "lo75", "hi75").as("p75"))
      .orderBy(col("l_returnflag"))
  }

  /** The 100 TB percentile path: quantile sketch, single pass, bounded
    * memory — no per-group value collection — shaped like
    * [[qAggApproxDistinct]] as a per-group ERROR-BOUND CERTIFICATE: the
    * sketch value is engine-specific, but `|approx − exact| ≤ 2%·|exact|`
    * is decidable, so Spark emits the boolean (exact side = the
    * chunked-rank [[qAggPercentile]], joined back on the 3-value group
    * key) and the oracle emits literal TRUE over the exact count. Output
    * carries only the group key, an exact BIGINT count, and booleans —
    * nothing float-divergent between engines. */
  def qAggPercentileApprox(spark: SparkSession, dir: String): DataFrame = {
    // Exact side = the chunked-rank qAggPercentile (already the scalable
    // exact-percentile plan; its 4-decimal rounding is noise against the
    // 2% bound). Spark's built-in exact `percentile` was tried here and
    // measured 5.2 s at sf0.1 — the same per-partition value→count hash
    // churn the qAggPercentile docstring documents — vs ~1 s for sketch +
    // chunked-rank join.
    val approx = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile_approx(l_extendedprice, 0.25D, 10000)").as("a25"),
        expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("a50"),
        expr("percentile_approx(l_extendedprice, 0.75D, 10000)").as("a75"))
    val exact = qAggPercentile(spark, dir)
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"))
    def within(a: String, e: String) =
      abs(col(a) - col(e)) <= abs(col(e)) * 0.02
    approx.join(broadcast(exact), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        within("a25", "p25").as("within_p25"),
        within("a50", "p50").as("within_p50"),
        within("a75", "p75").as("within_p75"))
      .orderBy(col("l_returnflag"))
  }

  /** Rebuild nested from flat (inverse of the reference's json_normalize):
    * per-group sorted sets/lists. */
  def qAggCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      // array_join: the driver's pandas comparator cannot sort raw array
      // cells, so the per-group lists are serialized to scalar strings
      // (numeric sort first, then element-wise cast — string sort would
      // misorder multi-digit line numbers).
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        array_join(
          transform(sort_array(collect_set(col("l_linenumber"))), _.cast("string")),
          ",").as("linenumbers"))
      .orderBy(col("l_returnflag"))

  /** Hierarchical rollup city→state→country analog: region→nation totals
    * plus subtotal and grand-total rows; GROUPING() flags disambiguate
    * data nulls from rollup nulls. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"),
        grouping(col("r_name")).as("g_region"),
        grouping(col("n_name")).as("g_nation"))
      .orderBy(col("g_region"), col("g_nation"), col("r_name"), col("n_name"))
  }

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * per-flag totals, per-status totals, and the grand total, WITHOUT the
    * (flag, status) cross cells a cube would add. One Expand + one
    * aggregation, same as rollup/cube. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus"))

  /** Full cube over two dims with grouping flags. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus"))

  /** Statistical moments + correlation per group, computed from EXACT
    * integer sums rather than the engines' native `stddev`/`corr`
    * aggregates: the 2-decimal money/quantity columns are scaled to integer
    * cents, summed as DECIMAL(38,0) (exact, order-independent — a native
    * double-accumulating aggregate sums in partition order and diverges
    * between engines in the last ulps), then the closed-form moment
    * formulas run ONCE per group on identical inputs — so both engines
    * produce bit-identical doubles. corr is scale-invariant so the cent
    * scaling cancels; mean/std divide by 100 at the end. This is also the
    * right 100 TB shape: one map-side-combinable pass, six longs of state
    * per group, no second pass. n > 1 guarded (a single-row group has no
    * sample variance). */
  def qAggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("qc", expr("CAST(round(l_quantity * 100) AS BIGINT)"))
      .withColumn("pc", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qc").cast("decimal(38,0)")).as("sq"),
        sum(col("pc").cast("decimal(38,0)")).as("sp"),
        sum((col("qc") * col("qc")).cast("decimal(38,0)")).as("sq2"),
        sum((col("pc") * col("pc")).cast("decimal(38,0)")).as("sp2"),
        sum((col("qc") * col("pc")).cast("decimal(38,0)")).as("sqp"))
      .select(col("l_returnflag"), col("n"),
        round(expr("CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0"), 4).as("mean_qty"),
        round(expr(
          """CASE WHEN n > 1 THEN
            |  sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
            |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0
            |END""".stripMargin), 4).as("std_qty"),
        round(expr(
          """CASE WHEN n > 1 THEN
            |  (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
            |  / (sqrt(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
            |     * sqrt(CAST(n AS DOUBLE) * CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
            |END""".stripMargin), 6).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))

  /** Per-group mode: the most frequent p_type within each brand, with an
    * explicit lexicographic tie-break — two hash aggregations and one
    * tiny window over the (brand, type) count table, never a per-group
    * value collection. */
  def qAggMode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_brand")).orderBy(col("n").desc, col("p_type"))
    Tables.part(spark, dir)
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("p_brand"), col("p_type").as("mode_type"), col("n"))
      .orderBy(col("p_brand"))
  }

  /** Discrete percentiles (no interpolation — the value AT the quantile
    * rank, PERCENTILE_DISC semantics): smallest v whose row number reaches
    * ceil(q·n) in the per-group value order. Same determinism argument as
    * [[qAggPercentile]] (ties carry equal values). */
  def qPercentileDisc(spark: SparkSession, dir: String): DataFrame = {
    // l_returnflag has 3 values, so a flat row_number() over it puts a
    // third of lineitem in ONE task; $2000 price chunks give a ~160-row
    // chunk table.
    val l = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("chunk", floor(col("v") / lit(2000.0)))
    val ranked = Windows.chunkedRunningSums(l, Seq("l_returnflag"), "chunk",
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn" -> lit(1L))
      .withColumnRenamed("rn_total", "n")
    def at(q: String) = max(when(expr(s"rn = CAST(ceil(n * $q) AS BIGINT)"), col("v")))
    ranked.groupBy(col("l_returnflag"))
      .agg(at("0.5").as("p50_disc"), at("0.9").as("p90_disc"),
        at("0.99").as("p99_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** Boolean aggregates: bool_and / bool_or / count_if — the predicate
    * summaries a data-quality sweep runs per partition class ("do ALL rows
    * satisfy the invariant, does ANY row violate it, how many"). All three
    * are single-pass map-side-combinable hash aggregates (one boolean /
    * one long of state per group). */
  def qAggBool(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("bool_and(o_totalprice > 500)").as("all_over_500"),
        expr("bool_or(o_orderstatus = 'F')").as("any_f"),
        expr("count_if(o_totalprice > 100000)").as("n_big"))
      .orderBy(col("o_orderpriority"))

  /** Bitwise aggregates (bit_and / bit_or / bit_xor): fold a key column's
    * bit patterns per group — the primitive behind permission-mask rollups
    * and XOR-based set reconciliation (two replicas' bit_xor over row
    * hashes is zero iff the sets match). Commutative + associative, so
    * they partial-aggregate map-side like sum. */
  def qAggBits(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bit_and(l_partkey)").as("mask_and"),
        expr("bit_or(l_partkey)").as("mask_or"),
        expr("bit_xor(l_partkey)").as("mask_xor"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Per-group simple linear regression (price ~ quantity) in closed form
    * from EXACT integer-cent sums — same determinism argument as
    * [[qAggStats]]: DECIMAL(38,0) sums are accumulation-order-independent,
    * the closed-form slope/intercept/R² then runs once per group on
    * bit-identical inputs in both engines. The cent scaling cancels in R²;
    * slope is (price cents)/(qty cents) so it needs no rescale either;
    * intercept divides back to currency units. One map-side-combinable
    * pass, six longs of state per group — the 100 TB shape (contrast a
    * naive two-pass mean-then-residual formulation). */
  def qRegr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("qc", expr("CAST(round(l_quantity * 100) AS BIGINT)"))
      .withColumn("pc", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qc").cast("decimal(38,0)")).as("sx"),
        sum(col("pc").cast("decimal(38,0)")).as("sy"),
        sum((col("qc") * col("qc")).cast("decimal(38,0)")).as("sx2"),
        sum((col("pc") * col("pc")).cast("decimal(38,0)")).as("sy2"),
        sum((col("qc") * col("pc")).cast("decimal(38,0)")).as("sxy"))
      // the shared co-moment terms are computed ONCE as named columns (and
      // once as a CTE in the oracle): reusing the same double value is
      // IEEE-identical to re-evaluating the expression, and a future edit
      // to the scaling lands in exactly one place. num*num, not pow(num,
      // 2): pow is not guaranteed correctly rounded and differs between
      // Java's and C's libm; multiplication is exact IEEE.
      .withColumn("num", expr(
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .withColumn("den", expr(
        "CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
      .withColumn("den_y", expr(
        "CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .select(col("l_returnflag"), col("n"),
        round(expr("num / den"), 6).as("slope"),
        round(expr(
          "(CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0"),
          4).as("intercept"),
        round(expr("(num * num) / (den * den_y)"), 6).as("r2"))
      .orderBy(col("l_returnflag"))

  /** Algebraic partial-aggregate merge — the pre-aggregation pattern behind
    * incremental view maintenance and cube serving: first materialize a
    * DAILY aggregate table (count / exact cent sum / min / max per (day,
    * type)), then answer the per-type rollup by MERGING the daily partials
    * (sum of counts, sum of sums, min of mins, max of maxes) instead of
    * re-scanning the events. Because these aggregates are algebraic the
    * merge is lossless — the DuckDB oracle computes straight from the base
    * table and must agree exactly. At 100 TB this is the difference
    * between re-reading the fact table per dashboard query and reading a
    * table 10⁴× smaller; n_days additionally proves the rollup really went
    * through the daily granularity. */
  def qAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("s"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("n_events"),
        sum(col("s")).as("s"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        expr("CAST(s AS DOUBLE) / 100.0").as("total"),
        round(col("vmin"), 4).as("vmin"), round(col("vmax"), 4).as("vmax"))
      .orderBy(col("event_type"))
  }

  /** Winsorized (clamped) robust mean per group — the standard tail-taming
    * step before averaging a heavy-tailed metric (an LLM quality score, a
    * latency): clamp every value into [p05, p95], then average. All
    * arithmetic stays on integer cents: the bounds are DISCRETE percentiles
    * (actual data values — no interpolation), the clamp is integer
    * greatest/least, and the mean comes from an exact DECIMAL sum — so the
    * whole pipeline is accumulation-order-independent and cross-engine
    * exact. The bounds' rank is chunked by $10 of value
    * ([[Windows.chunkedRunningSums]]): event_type has a handful of values,
    * so a flat per-group row_number() would put one group's whole history
    * in one task. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: the chunked-rank bounds pass (chunk table + rank join)
    // and the final clamp join each consume this frame — uncheckpointed the
    // events scan was planted 3× in the plan
    val cents = Materialize.shared(Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c")))
    val bounds = Windows.chunkedRunningSums(
        cents.withColumn("chunk", floor(col("c") / lit(1000L))), Seq("event_type"), "chunk",
        Seq(col("c"), col("event_id")), "rn" -> lit(1L))
      .groupBy(col("event_type"))
      .agg(
        max(when(expr("rn = CAST(ceil(rn_total * 0.05) AS BIGINT)"), col("c"))).as("lo"),
        max(when(expr("rn = CAST(ceil(rn_total * 0.95) AS BIGINT)"), col("c"))).as("hi"))
    cents.join(bounds, "event_type")
      .withColumn("w", greatest(col("lo"), least(col("hi"), col("c"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE)") / col("n") / 100.0, 4)
          .as("robust_mean"),
        sum(when(col("c") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("c") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        expr("CAST(min(lo) AS DOUBLE) / 100.0").as("p05"),
        expr("CAST(min(hi) AS DOUBLE) / 100.0").as("p95"))
      .orderBy(col("event_type"))
  }

  val registry: Map[String, (Query, String)] = Map(
    // Sketch certificates: the oracle computes the EXACT side and asserts
    // the bound booleans as literal TRUE — the hash matches iff Spark's
    // sketch actually landed within its declared error bound.
    "q_agg_approx_distinct" -> (qAggApproxDistinct _,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact,
        |       TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_agg_percentile_approx" -> (qAggPercentileApprox _,
      """SELECT l_returnflag, COUNT(*) AS n,
        |       TRUE AS within_p25, TRUE AS within_p50, TRUE AS within_p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_agg_bool" -> (qAggBool _,
      """SELECT o_orderpriority,
        |       bool_and(o_totalprice > 500) AS all_over_500,
        |       bool_or(o_orderstatus = 'F') AS any_f,
        |       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q_agg_bits" -> (qAggBits _,
      """SELECT l_returnflag,
        |       bit_and(l_partkey) AS mask_and,
        |       bit_or(l_partkey) AS mask_or,
        |       bit_xor(l_partkey) AS mask_xor,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_regr" -> (qRegr _,
      """WITH cents AS (
        |  SELECT l_returnflag,
        |         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(qc AS DECIMAL(38,0))) AS sx,
        |         SUM(CAST(pc AS DECIMAL(38,0))) AS sy,
        |         SUM(CAST(qc * qc AS DECIMAL(38,0))) AS sx2,
        |         SUM(CAST(pc * pc AS DECIMAL(38,0))) AS sy2,
        |         SUM(CAST(qc * pc AS DECIMAL(38,0))) AS sxy
        |  FROM cents GROUP BY l_returnflag),
        |moments AS (
        |  SELECT l_returnflag, n, sx, sy,
        |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |         CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y
        |  FROM sums)
        |SELECT l_returnflag, n,
        |  ROUND(num / den, 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE) / 100.0, 4) AS intercept,
        |  ROUND((num * num) / (den * den_y), 6) AS r2
        |FROM moments ORDER BY l_returnflag""".stripMargin),
    "q_winsorize" -> (qWinsorize _,
      """WITH cents AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
        |ranked AS (
        |  SELECT event_type, c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM cents),
        |bounds AS (
        |  SELECT event_type,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.05) AS BIGINT) THEN c END) AS lo,
        |         MAX(CASE WHEN rn = CAST(CEIL(n * 0.95) AS BIGINT) THEN c END) AS hi
        |  FROM ranked GROUP BY event_type)
        |SELECT cents.event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(GREATEST(lo, LEAST(hi, c)) AS DECIMAL(38,0))) AS DOUBLE)
        |             / COUNT(*) / 100.0, 4) AS robust_mean,
        |       CAST(SUM(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(SUM(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       CAST(MIN(lo) AS DOUBLE) / 100.0 AS p05,
        |       CAST(MIN(hi) AS DOUBLE) / 100.0 AS p95
        |FROM cents JOIN bounds USING (event_type)
        |GROUP BY cents.event_type ORDER BY cents.event_type""".stripMargin),
    "q_agg_merge" -> (qAggMerge _,
      """SELECT event_type,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
        |         / 100.0 AS total,
        |       ROUND(MIN(value), 4) AS vmin,
        |       ROUND(MAX(value), 4) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_agg_mode" -> (qAggMode _,
      """WITH cnt AS (
        |  SELECT p_brand, p_type, COUNT(*) AS n FROM part GROUP BY p_brand, p_type),
        |rk AS (
        |  SELECT p_brand, p_type, n,
        |         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY n DESC, p_type) AS rk
        |  FROM cnt)
        |SELECT p_brand, p_type AS mode_type, n
        |FROM rk WHERE rk = 1 ORDER BY p_brand""".stripMargin),
    "q_percentile_disc" -> (qPercentileDisc _,
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN v END) AS p50_disc,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN v END) AS p90_disc,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN v END) AS p99_disc
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_agg_stats" -> (qAggStats _,
      """WITH cents AS (
        |  SELECT l_returnflag,
        |         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        |sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(qc AS DECIMAL(38,0))) AS sq,
        |         SUM(CAST(pc AS DECIMAL(38,0))) AS sp,
        |         SUM(CAST(qc * qc AS DECIMAL(38,0))) AS sq2,
        |         SUM(CAST(pc * pc AS DECIMAL(38,0))) AS sp2,
        |         SUM(CAST(qc * pc AS DECIMAL(38,0))) AS sqp
        |  FROM cents GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       ROUND(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS mean_qty,
        |       ROUND(CASE WHEN n > 1 THEN
        |         sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0
        |         END, 4) AS std_qty,
        |       ROUND(CASE WHEN n > 1 THEN
        |         (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
        |         / (sqrt(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |            * sqrt(CAST(n AS DOUBLE) * CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
        |         END, 6) AS corr_qty_price
        |FROM sums ORDER BY l_returnflag""".stripMargin),
    "q_agg_group" -> (qAggGroup _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(AVG(l_extendedprice), 2) AS avg_price,
        |       ROUND(MIN(l_discount), 2) AS min_disc,
        |       ROUND(MAX(l_discount), 2) AS max_disc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_agg_global" -> (qAggGlobal _,
      """SELECT COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS sum_total,
        |       ROUND(AVG(o_totalprice), 2) AS avg_total,
        |       MIN(CAST(o_orderdate AS DATE)) AS first_day,
        |       MAX(CAST(o_orderdate AS DATE)) AS last_day
        |FROM orders""".stripMargin),
    "q_agg_count_distinct" -> (qAggCountDistinct _,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_agg_filtered" -> (qAggFiltered _,
      """SELECT l_linestatus,
        |       ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS returned_value,
        |       COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    "q_per_capita" -> (qPerCapita _,
      """SELECT n_name,
        |       FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(DISTINCT c_custkey) * 100 + 0.5) / 100
        |         AS revenue_per_customer
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    "q_agg_percentile" -> (qAggPercentile _,
      """SELECT l_returnflag,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
        |       ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_agg_collect" -> (qAggCollect _,
      """SELECT l_returnflag,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS statuses,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linenumber)), ',') AS linenumbers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_rollup" -> (qRollup _,
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |       ROUND(SUM(c_acctbal), 2) AS sum_bal,
        |       CAST(GROUPING(r_name) AS TINYINT) AS g_region,
        |       CAST(GROUPING(n_name) AS TINYINT) AS g_nation
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin),
    "q_cube" -> (qCube _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin),
    "q_grouping_sets" -> (qGroupingSets _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin),
  )
}
