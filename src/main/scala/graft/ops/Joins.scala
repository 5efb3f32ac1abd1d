package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.2): the lake's declared purpose is consultas
  * joining fact to dim (reference dags/create-data-lake.py:22-25,73,97 — covid
  * ⋈ microrregioes on the IBGE code). Re-expressed over the harness star
  * schema: lineitem/orders = fact, customer/supplier/nation/region = dims.
  *
  * Scale notes (100 TB design point):
  *  - Fact⋈fact (lineitem⋈orders) → sort-merge join, both sides shuffled on
  *    the key; at cluster scale, bucketing both tables on orderkey removes
  *    the shuffle entirely. AQE re-plans to broadcast when the post-filter
  *    side fits.
  *  - Fact⋈dim (⋈nation/region/small customer slices) → explicit
  *    `broadcast()` hint: dims ship to every executor, no fact shuffle.
  *  - Semi/anti joins: Spark plans BroadcastHashJoin(LeftSemi/LeftAnti) when
  *    the right side is small — existence checks never materialize the dim.
  *  - Range join (band lookup) → broadcast nested-loop against a tiny bands
  *    dim: O(|fact| × |bands|) with bands broadcast, which is the right plan;
  *    never range-join two fact tables without binning first.
  *  - As-of join → window row_number per key, one shuffle on the key (same
  *    partitioning a later per-key agg would reuse).
  */
object Joins extends QueryModule {

  /** Inner equi-join fact⋈fact, then aggregate. Catalyst: SMJ (or AQE
    * broadcast at small sf). */
  def qJoinInner(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Left outer join: every customer, with order aggregates where present
    * (covid rows without an IBGE match keep their row — same semantics). */
  def qJoinLeft(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
  }

  /** Fact ⋈ broadcast(dim chain): nation and region ship to every executor —
    * zero fact-side shuffle before the aggregation. */
  def qJoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("r_name"))
  }

  /** Left-semi: customers that have at least one order (existence probe —
    * orders side never reaches the output). */
  def qJoinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti: customers with no orders (orphan-code audit shape). */
  def qJoinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Multi-way star join: fact × orders × customer × nation × region →
    * revenue by region/year. Dims broadcast; fact⋈orders is the only real
    * shuffle. This is the canonical 100 TB query shape. */
  def qJoinStar(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("order_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("r_name"), col("order_year"))
  }

  /** Theta/range join: band lookup of order totals against a tiny in-memory
    * bands dim — broadcast nested-loop, the right plan for value-band
    * classification at any fact size. */
  def qJoinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("tiny", 0.0, 1000.0), ("small", 1000.0, 5000.0),
      ("mid", 5000.0, 20000.0), ("large", 20000.0, 100000.0),
      ("huge", 100000.0, 1e12)).toDF("band", "lo", "hi")
    val o = Tables.orders(spark, dir)
    o.join(broadcast(bands),
        o("o_totalprice") >= bands("lo") && o("o_totalprice") < bands("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("band"))
  }

  /** As-of join: per order, the last lineitem shipped on or before a pivot
    * date (caso_full `last_available_*` semantics — latest report ≤ t).
    * One shuffle on the key; tie-broken to a total order for determinism. */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val pivot = lit("1997-06-30").cast("timestamp")
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_shipdate").desc, col("l_linenumber"), col("l_partkey"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= pivot)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("asof_date"), col("l_quantity"))
  }

  /** Full outer join of two filtered per-nation aggregates: nations rich in
    * only customers or only suppliers keep their row with a NULL other
    * side — the reconciliation-report shape. Same shuffle budget as an
    * inner join (both sides hash on the key); at scale full-outer excludes
    * broadcast, so the plan is SMJ on nationkey. */
  def qJoinFull(spark: SparkSession, dir: String): DataFrame = {
    val cAgg = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9500)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_rich_cust"))
    val sAgg = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") > 9500)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_rich_supp"))
    cAgg.join(sAgg, cAgg("c_nationkey") === sAgg("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        col("n_rich_cust"), col("n_rich_supp"))
      .orderBy(col("nationkey"))
  }

  /** The skew-salting lever inside the correctness gate: fact rows hash to
    * one of 8 salt sub-keys, the dim side replicates 8×, and the join runs
    * on (key, salt) — fanning any pathological hot key across 8 reducers.
    * Semantically IDENTICAL to the plain join (the oracle is the plain
    * join), which is the point: salting reshapes the physical plan only.
    * l_quantity is integer-valued, so its double sum is exact under any
    * accumulation order — no cross-engine rounding hazard. */
  def qJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"))
    Scale.saltedJoin(li, o, "l_orderkey", "o_orderkey", salts = 8)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderstatus"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of silently dropping out of an equi-join. The fact
    * side nulls out one priority class, the dim side is the distinct key set
    * with the same null injected — a plain `=` join would lose ~20% of the
    * rows (the NULL class); `<=>` keeps the join total-preserving, which the
    * grouped row counts make checkable. Plans as a regular hash join (the
    * null-safe comparison is part of the join key), so it shuffles once on
    * the key like any equi-join — no nested-loop penalty at scale. */
  def qJoinNullsafe(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("pri", when(col("o_orderpriority") === "3-MEDIUM", lit(null).cast("string"))
        .otherwise(col("o_orderpriority")))
    val dim = o.select(col("pri")).distinct()
      .select(col("pri").as("d_pri"), coalesce(col("pri"), lit("unspecified")).as("pri_label"))
    o.join(dim, o("pri") <=> dim("d_pri"))
      .groupBy(col("pri_label"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("pri_label"))
  }

  /** Runtime bloom-filter join pruning, spelled out: build a 2-hash bloom
    * filter over the (filtered, small) dim keys, pre-filter the fact scan
    * with cheap bitwise probes, then exact semi-join the survivors — the
    * bloom pass removes most non-matching fact rows BEFORE the join
    * shuffle, the semi join removes the false positives, so the result is
    * exactly the plain semi join (which is the oracle). This is the manual
    * form of Spark's own InjectRuntimeFilter / DPP: the filter builds as a
    * distributed bitset aggregation (Scale.bloomPrune) whose one-row
    * result (m/8 = 32 KiB, bounded by the filter geometry regardless of
    * data scale) broadcasts to the probe side — no driver round-trip. At
    * 100 TB the probe is a codegen'd bitwise AND — no shuffle, no UDF. */
  def qJoinBloom(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"))
    val fact = Scale.bloomPrune(
      Tables.lineitem(spark, dir), "l_orderkey", dim, "o_orderkey", mBits = 1 << 18)
    fact.join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Nearest-match as-of (vs [[qAsof]]'s backward-only match): for each
    * order, the line whose ship date lands CLOSEST to the expected-delivery
    * pivot (order date + 30 days) — the time-series alignment that pairs
    * each reading with its nearest neighbor in another series rather than
    * the last one before it. Same scale shape as any as-of: one window
    * over the join key, total-ordered tie-break (distance, then earlier
    * date, then line number). */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("days_off"), col("l_shipdate"), col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .withColumn("days_off",
        abs(datediff(col("l_shipdate"), expr("o_orderdate + INTERVAL 30 DAYS"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("nearest_ship"), col("days_off"))
  }

  /** Interval-overlap self-join WITHOUT a cartesian: pairs of same-supplier
    * shipments whose 3-day ship windows [sd, sd+3) overlap — the
    * conflict/capacity-detection shape (booking overlap, concurrent jobs on
    * one resource). An inequality theta-join (`a.sd BETWEEN b.sd-2 AND
    * b.sd+2`) has no equi-key, which Spark plans as a cartesian; instead
    * each interval REPLICATES to the day buckets it covers (bounded 3×
    * blowup), the join becomes a plain hash equi-join on (supplier, day),
    * and each overlapping pair is counted exactly once at its
    * RESPONSIBILITY bucket — the FIRST shared day, max(sd_a, sd_b) — so no
    * post-join dedup shuffle exists. Unbounded interval lengths would cap
    * replication by chunking into coarse buckets (the q_join_range band
    * trick); the pair (orderkey, linenumber) id-order halves the symmetric
    * pairs. */
  def qJoinInterval(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    // NOT checkpointed (an A/B): both self-join sides re-derive the
    // scan + 3× explode, but materializing the replicated frame measured
    // neutral-to-worse isolated (3.02 s old vs 3.05–3.66 s checkpointed) —
    // the cheap scan+explode re-run beats writing 1.8M rows to the
    // checkpoint store and reading them back twice
    val rep = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        datediff(to_date(col("l_shipdate")), epoch).as("sd"))
      .withColumn("bucket", explode(sequence(col("sd"), col("sd") + 2)))
    val a = rep.select(col("l_suppkey"), col("bucket"),
      col("l_orderkey").as("ok_a"), col("l_linenumber").as("ln_a"), col("sd").as("sd_a"))
    val b = rep.select(col("l_suppkey"), col("bucket"),
      col("l_orderkey").as("ok_b"), col("l_linenumber").as("ln_b"), col("sd").as("sd_b"))
    a.join(b, Seq("l_suppkey", "bucket"))
      .filter(struct(col("ok_a"), col("ln_a")) < struct(col("ok_b"), col("ln_b"))
        && col("bucket") === greatest(col("sd_a"), col("sd_b")))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_conflicts"))
      .orderBy(col("n_conflicts").desc, col("l_suppkey"))
      .limit(100)
  }

  /** Table names + storage root for [[qJoinBucketed]] — PID-nonced like
    * [[Relational.sinkRoot]] so concurrent JVMs never fight over one
    * catalog entry or directory; exposed to tests so plan assertions
    * derive the same names instead of drifting. */
  private[graft] def bucketedSfx(dir: String): String =
    s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}"

  /** Reclaim bucketed-layout directories left behind by DEAD JVMs. The
    * PID-nonce makes concurrent writers safe but means every new JVM
    * writes a fresh `graft_bucketed_*` pair — without this sweep, tmpdir
    * accumulates one layout per (dir, JVM) forever. A directory is
    * deleted only when its embedded PID has no live process, so
    * concurrent sessions are never touched. Catalog entries are NOT the
    * leak: names are fixed per (dir, pid) and written with
    * mode("overwrite"), so in-session re-runs replace in place (at most
    * one table pair per distinct data dir per session), and a DROP in
    * this function would break the lazily-returned join plan the caller
    * has not executed yet. */
  private def sweepStaleBucketed(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val mine = s"_p${ProcessHandle.current().pid()}"
    // Strict suffix parse: a graft_bucketed_* name NOT ending in _p<digits>
    // was not written by this layout scheme — its liveness cannot be
    // established, so it is SKIPPED, never deleted.
    val PidSfx = ".*_p(\\d+)$".r
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("graft_bucketed_") && !f.getName.endsWith(mine))
      .foreach { f =>
        f.getName match {
          case PidSfx(pid) =>
            val alive = pid.toLongOption.exists(p =>
              ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false))
            if (!alive) Relational.deleteTree(f)
          case _ => () // malformed name: ownership unknown, leave it alone
        }
      }
  }

  /** Bucketed co-located join — the WRITE-side join lever the other join
    * keys only exercise at read time: both sides are laid out
    * `bucketBy(8, key)` + `sortBy(key)` into catalog tables (each bucket
    * exactly one file: the pre-write `repartition(8, key)` uses the same
    * murmur3 hash as the bucket spec, so task i holds precisely bucket i),
    * and the join of the two bucketed tables then needs NO shuffle and NO
    * sort on either side — the layout IS the exchange, amortized across
    * every future join on that key. On a 100 TB fact table this turns the
    * recurring nightly fact⋈dim from the cluster's largest shuffle into a
    * partition-local merge; the only exchange left in this whole plan is
    * the final |segments|-row aggregation. The oracle computes the same
    * join/aggregate straight off the source tables — the bucketed round
    * trip must lose nothing. */
  def qJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleBucketed()
    val sfx = bucketedSfx(dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$sfx"
    val tOrders = s"orders_bkt_$sfx"
    val tCust = s"customer_bkt_$sfx"
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").option("path", s"$root/orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(tOrders)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(8, col("c_custkey"))
      .write.mode("overwrite").option("path", s"$root/customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tCust)
    spark.table(tOrders).hint("merge")
      .join(spark.table(tCust).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .select(col("c_mktsegment"), col("n_orders"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** One row of the cardinality-estimation audit: the textbook equi-join
    * size estimate |L|·|R| / max(ndv(L.k), ndv(R.k)) — what a
    * cost-based optimizer reorders joins with — against the TRUE join
    * cardinality, with the error in truncating ppm. */
  private def cardAudit(name: String, l: DataFrame, lk: String,
      r: DataFrame, rk: String): DataFrame = {
    val stats = l.agg(count(lit(1)).as("n_left"),
        countDistinct(col(lk)).as("ndv_left"))
      .crossJoin(r.agg(count(lit(1)).as("n_right"),
        countDistinct(col(rk)).as("ndv_right")))
    val actual = l.select(col(lk).as("k"))
      .join(r.select(col(rk).as("k")), "k")
      .agg(count(lit(1)).as("actual_rows"))
    stats.crossJoin(actual)
      .withColumn("join_name", lit(name))
      // |L|·|R| overflows BIGINT around sf1000 (6e9 × 1.5e9 ≈ 9e18 sits at
      // the 2^63 edge); the product runs in DECIMAL(38,0) ↔ DuckDB HUGEINT
      // — the same discipline as the graph cross-moments — and only the
      // integral-divide result (row-count scale) is emitted as BIGINT.
      .withColumn("est_rows", expr(
        "CAST((CAST(n_left AS DECIMAL(38,0)) * n_right) div " +
          "greatest(ndv_left, ndv_right) AS BIGINT)"))
      .withColumn("err_ppm", when(col("actual_rows") === 0, lit(null))
        .otherwise(expr(
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(est_rows - actual_rows)) " +
            "div actual_rows AS BIGINT)")))
      .select(col("join_name"), col("n_left"), col("n_right"),
        col("ndv_left"), col("ndv_right"), col("est_rows"),
        col("actual_rows"), col("err_ppm"))
  }

  /** Join-cardinality estimation audit over the three FK joins a
    * cost-based optimizer must order correctly (customer⋈orders,
    * orders⋈lineitem, part⋈lineitem): the uniform-frequency estimate
    * vs the measured truth. On uniform FK data the estimate should land
    * within ppm noise; real skew (q_skew_audit's territory) is exactly
    * what pushes it off — this key is the measuring stick.
    *
    * Scale shape: per audited join, two single-pass stat aggregates
    * (count + exact count-distinct — at 100 TB the estimator reads the
    * same numbers from HLL sketches, `q_agg_approx_distinct`'s
    * machinery, and the audit runs on a sample) and one key-only join
    * for the ground truth, projected to the key columns before the
    * shuffle so the exchange carries 8 bytes a row. The three audits
    * are independent 1-row pipelines unioned at the end. */
  def qJoinCardEst(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    cardAudit("customer-orders", cust, "c_custkey", ord, "o_custkey")
      .unionAll(cardAudit("orders-lineitem", ord, "o_orderkey", li, "l_orderkey"))
      .unionAll(cardAudit("part-lineitem", part, "p_partkey", li, "l_partkey"))
      .orderBy(col("join_name"))
  }

  /** Salting PLAN certificate — the sizing step BEFORE `q_join_salted`'s
    * mechanism runs: from the per-key row-count profile of a join key with
    * planted hot keys (~27% of lineitem collapsed onto 2 celebrity keys —
    * the shape a viral product or a default/null surrogate key produces),
    * compute each key's salt count against the per-task row target
    * (⌈total/32⌉, one shuffle partition's fair share) and report the plan
    * grouped by salt count: how many keys need splitting, the worst task
    * size before and after, and the dim-side replication the salts cost.
    * The certificate's claim: after salting, NO task exceeds the target
    * (max_task_rows_after ≤ target for every row) — skew is bounded by
    * plan, not by luck.
    *
    * Scale shape: the profile is ONE map-side-combinable rollup to |keys|
    * rows; the plan is arithmetic on the profile. At 100 TB this audit is
    * what an adaptive engine's skew-join rule computes from shuffle-map
    * sizes — expressed here as an explicit, testable table. */
  def qSkewSaltPlan(spark: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.lineitem(spark, dir)
      // planted celebrity keys: ~27% of rows fold onto 2 hot ids — the
      // magnitude at which a fair hash partitioning actually breaks
      .withColumn("k", expr(
        "CASE WHEN l_partkey % 11 < 3 THEN l_partkey % 2 ELSE l_partkey END"))
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"))
    cnts.crossJoin(broadcast(tot))
      .withColumn("target", expr("div(total, 32) + 1"))
      .withColumn("n_salts", expr("div(cnt + target - 1, target)"))
      .groupBy(col("n_salts"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("rows_total"),
        max(col("cnt")).as("max_task_rows_before"),
        max(expr("div(cnt + n_salts - 1, n_salts)")).as("max_task_rows_after"),
        sum(col("n_salts")).as("dim_replication"),
        min(col("target")).as("target_rows"))
      .orderBy(col("n_salts"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_skew_salt_plan" -> (qSkewSaltPlan _,
      """WITH cnts AS (
        |  SELECT CASE WHEN l_partkey % 11 < 3 THEN l_partkey % 2
        |              ELSE l_partkey END AS k,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
        |planned AS (
        |  SELECT k, cnt, total // 32 + 1 AS target,
        |         (cnt + (total // 32 + 1) - 1) // (total // 32 + 1) AS n_salts
        |  FROM cnts CROSS JOIN tot)
        |SELECT n_salts, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(cnt) AS BIGINT) AS rows_total,
        |       MAX(cnt) AS max_task_rows_before,
        |       MAX((cnt + n_salts - 1) // n_salts) AS max_task_rows_after,
        |       CAST(SUM(n_salts) AS BIGINT) AS dim_replication,
        |       MIN(target) AS target_rows
        |FROM planned GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_join_card_est" -> (qJoinCardEst _,
      """WITH a AS (
        |  SELECT 'customer-orders' AS join_name,
        |         (SELECT COUNT(*) FROM customer) AS n_left,
        |         (SELECT COUNT(*) FROM orders) AS n_right,
        |         (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_left,
        |         (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_right,
        |         (SELECT COUNT(*) FROM customer c JOIN orders o
        |            ON c.c_custkey = o.o_custkey) AS actual_rows),
        |b AS (
        |  SELECT 'orders-lineitem' AS join_name,
        |         (SELECT COUNT(*) FROM orders) AS n_left,
        |         (SELECT COUNT(*) FROM lineitem) AS n_right,
        |         (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_left,
        |         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_right,
        |         (SELECT COUNT(*) FROM orders o JOIN lineitem l
        |            ON o.o_orderkey = l.l_orderkey) AS actual_rows),
        |c AS (
        |  SELECT 'part-lineitem' AS join_name,
        |         (SELECT COUNT(*) FROM part) AS n_left,
        |         (SELECT COUNT(*) FROM lineitem) AS n_right,
        |         (SELECT COUNT(DISTINCT p_partkey) FROM part) AS ndv_left,
        |         (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS ndv_right,
        |         (SELECT COUNT(*) FROM part p JOIN lineitem l
        |            ON p.p_partkey = l.l_partkey) AS actual_rows),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)
        |SELECT join_name, n_left, n_right, ndv_left, ndv_right,
        |       CAST((CAST(n_left AS HUGEINT) * n_right)
        |              // GREATEST(ndv_left, ndv_right) AS BIGINT) AS est_rows,
        |       actual_rows,
        |       CASE WHEN actual_rows = 0 THEN NULL
        |            ELSE CAST((CAST(1000000 AS HUGEINT)
        |                   * ABS((CAST(n_left AS HUGEINT) * n_right)
        |                   // GREATEST(ndv_left, ndv_right) - actual_rows))
        |                   // actual_rows AS BIGINT)
        |       END AS err_ppm
        |FROM u ORDER BY join_name""".stripMargin),
    "q_join_bucketed" -> (qJoinBucketed _,
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        |       ROUND(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |             / 100.0, 2) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin),
    "q_join_interval" -> (qJoinInterval _,
      """WITH l AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS sd
        |  FROM lineitem)
        |SELECT a.l_suppkey, COUNT(*) AS n_conflicts
        |FROM l a JOIN l b
        |  ON a.l_suppkey = b.l_suppkey
        | AND (a.l_orderkey < b.l_orderkey
        |      OR (a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber))
        | AND a.sd <= b.sd + 2 AND b.sd <= a.sd + 2
        |GROUP BY a.l_suppkey
        |ORDER BY n_conflicts DESC, a.l_suppkey LIMIT 100""".stripMargin),
    "q_join_inner" -> (qJoinInner _,
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "q_join_left" -> (qJoinLeft _,
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |       ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),
    "q_join_broadcast" -> (qJoinBroadcast _,
      """SELECT r_name, COUNT(*) AS n_customers,
        |       ROUND(AVG(c_acctbal), 2) AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    "q_join_semi" -> (qJoinSemi _,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    "q_join_anti" -> (qJoinAnti _,
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    "q_join_star" -> (qJoinStar _,
      """SELECT r_name, EXTRACT(YEAR FROM o_orderdate) AS order_year,
        |       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, order_year ORDER BY r_name, order_year""".stripMargin),
    "q_join_range" -> (qJoinRange _,
      """SELECT band, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |JOIN (VALUES ('tiny', 0.0, 1000.0), ('small', 1000.0, 5000.0),
        |             ('mid', 5000.0, 20000.0), ('large', 20000.0, 100000.0),
        |             ('huge', 100000.0, 1e12)) AS bands(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin),
    "q_join_full" -> (qJoinFull _,
      """WITH cagg AS (
        |  SELECT c_nationkey, COUNT(*) AS n_rich_cust FROM customer
        |  WHERE c_acctbal > 9500 GROUP BY c_nationkey),
        |sagg AS (
        |  SELECT s_nationkey, COUNT(*) AS n_rich_supp FROM supplier
        |  WHERE s_acctbal > 9500 GROUP BY s_nationkey)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |       n_rich_cust, n_rich_supp
        |FROM cagg FULL OUTER JOIN sagg ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin),
    "q_join_salted" -> (qJoinSalted _,
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "q_join_bloom" -> (qJoinBloom _,
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_join_nullsafe" -> (qJoinNullsafe _,
      """WITH o AS (
        |  SELECT CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
        |              ELSE o_orderpriority END AS pri,
        |         o_totalprice
        |  FROM orders),
        |d AS (
        |  SELECT pri AS d_pri, COALESCE(pri, 'unspecified') AS pri_label
        |  FROM (SELECT DISTINCT pri FROM o) t)
        |SELECT pri_label, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM o JOIN d ON o.pri IS NOT DISTINCT FROM d.d_pri
        |GROUP BY pri_label ORDER BY pri_label""".stripMargin),
    "q_asof_nearest" -> (qAsofNearest _,
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_shipdate AS DATE) AS nearest_ship, days_off
        |FROM (SELECT l_orderkey, l_linenumber, l_shipdate,
        |        CAST(ABS(DATE_DIFF('day', o_orderdate + INTERVAL 30 DAY, l_shipdate)) AS INT)
        |          AS days_off,
        |        ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |          ORDER BY ABS(DATE_DIFF('day', o_orderdate + INTERVAL 30 DAY, l_shipdate)),
        |                   l_shipdate, l_linenumber) AS rn
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
    "q_asof" -> (qAsof _,
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS asof_date,
        |       l_quantity
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |        ORDER BY l_shipdate DESC, l_linenumber, l_partkey) AS rn
        |      FROM lineitem
        |      WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00') t
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
  )
}
