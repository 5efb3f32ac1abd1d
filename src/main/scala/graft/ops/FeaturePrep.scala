package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML feature preparation — the last mile between the lake's analytic
  * tables and a training job: per-group feature normalization, recency
  * weighting, and label rebalancing. The reference lake's downstream
  * consumers run exactly this prep before modeling (reference
  * dags/create-data-lake.py builds the serving tables; SURVEY.md §3.4);
  * here each step is a first-class distributed operator with the same
  * exact-arithmetic discipline as the rest of the engine: all statistics
  * accumulate as integers/decimals, and every double is produced by ONE
  * final division of exact operands, so the DuckDB oracle verifies
  * hash-for-hash.
  */
object FeaturePrep extends QueryModule {

  /** Per-type feature scaling: each event's `value` re-expressed as a
    * z-score ((x−μ)/σ, the input a linear model wants) and a min-max
    * position ((x−min)/(max−min) ∈ [0,1], the input a histogram/NN
    * bucketizer wants), standardized WITHIN its event_type — cross-type
    * scales differ by construction, so global scaling would wash out the
    * signal. Group statistics run on exact integer cents (μ and σ via the
    * n·Σx²−(Σx)² closed form in DECIMAL(38,0) — the [[Profiling.qAnomalyZscore]]
    * convention); each output is a deterministic IEEE expression over
    * those exact stats. Degenerate groups (n ≤ 1, zero variance, or
    * min = max) are dropped by the inner join, mirrored in the oracle.
    *
    * Scale shape: one map-side-combinable aggregation produces the
    * per-type stats table (rows = |event_type| — tiny), which joins back
    * BROADCAST; the scaling itself is a map-only projection, so the whole
    * operator is one shuffle of partial aggregates plus one codegen'd
    * pass — no per-row state, no window, no sort except the oracle-only
    * output ORDER BY. */
  def qFeatureScale(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
    val stats = cents.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("sv"),
        sum((col("vc") * col("vc")).cast("decimal(38,0)")).as("sv2"),
        min(col("vc")).as("mn"),
        max(col("vc")).as("mx"))
      .filter(col("n") > 1 && col("mx") > col("mn"))
      .select(col("event_type"),
        expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_c"),
        expr(
          """sqrt((CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
            |     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))""".stripMargin).as("std_c"),
        col("mn"), col("mx"))
      .filter(col("std_c") > 0)
    cents.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("vc").cast("double") - col("mean_c")) / col("std_c"), 6).as("z_score"),
        round(expr("CAST(vc - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)"), 6).as("minmax"))
  }

  /** Recency-decayed engagement score per user: each event contributes its
    * cent value halved for every 14 days of age at the corpus horizon
    * (the max event date), i.e. a staircase exponential decay with a
    * two-week half-life, floored at 2⁻²⁰. The decay weight is an EXACT
    * dyadic rational — the term is vc·2^(20−k) in integer arithmetic
    * (shiftleft, k = min(⌊age/14⌋, 20)) and the 2²⁰·100 denominator
    * divides once at output — so unlike a float exp(−λ·age) (whose libm
    * last-ulp differs across engines and can flip a rounding boundary),
    * every engine computes bit-identical scores. This is the classic
    * training-data freshness/engagement feature (recent behavior counts
    * more than stale behavior).
    *
    * Scale shape: the horizon is a one-row aggregate broadcast to the
    * scan; the weighted term is map-only integer math; the per-user
    * rollup is one map-side-combinable shuffle keyed by high-cardinality
    * user_id. Sums accumulate in DECIMAL(38,0) (60k events × 10¹² per
    * term already exceeds 2⁵³; 100 TB certainly does). */
  def qDecayScore(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    val horizon = e.agg(max(col("d")).as("ref"))
    e.crossJoin(broadcast(horizon))
      .withColumn("k",
        least(floor(datediff(col("ref"), col("d")) / 14.0), lit(20)).cast("int"))
      .withColumn("term", expr("vc * shiftleft(CAST(1 AS BIGINT), 20 - k)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("term").cast("decimal(38,0)")).as("st"))
      .select(col("user_id"), col("n_events"),
        round(expr("CAST(st AS DOUBLE) / 104857600.0"), 6).as("decay_score"))
      .orderBy(col("user_id"))
  }

  /** Class balance audit + inverse-frequency weights over the embedding
    * labels: each class's share of the corpus and the weight
    * n_total/(n_classes·n) that re-balances a loss function (weights
    * average to 1 across examples by construction — the sklearn
    * "balanced" convention). All counts are exact; both output doubles
    * are single divisions of exact integers.
    *
    * Scale shape: one map-side-combinable count by label, then a one-row
    * global rollup broadcast back — the output is |classes| rows however
    * large the corpus, and nothing else shuffles. */
  def qLabelBalance(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(spark, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val glob = counts.agg(sum(col("n")).as("n_total"),
      count(lit(1)).as("n_classes"))
    counts.crossJoin(broadcast(glob))
      .select(col("label"), col("n"),
        round(expr("CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)"), 6).as("share"),
        round(expr("CAST(n_total AS DOUBLE) / CAST(n_classes * n AS DOUBLE)"), 6)
          .as("class_weight"))
      .orderBy(col("label"))
  }

  /** Feature hashing (the "hashing trick") collision audit: categorical
    * features ("name=value" strings) map to a fixed K = 64 buckets by
    * hash, so the model's input width is constant no matter how many
    * distinct categories the data grows — the standard trick for
    * unbounded-vocabulary features. What a pipeline must then audit is
    * COLLISIONS: this operator reports, per bucket, the row mass, the
    * number of distinct features sharing the bucket, and a deterministic
    * example feature. The bucket hash is the engine's cross-engine md5
    * primitive (first 15 hex chars as a 60-bit integer, mod K — same
    * convention as the MinHash tier, so DuckDB reproduces the exact
    * assignment and the oracle hash-matches).
    *
    * Scale shape: map-only explode (3 features/row) → one hash aggregate
    * on a 64-value key; output is 64 rows however large the corpus. */
  def qFeatureHash(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.customer(spark, dir)
      .select(explode(array(
        concat(lit("seg="), col("c_mktsegment")),
        concat(lit("nation="), col("c_nationkey").cast("string")),
        concat(lit("bal_sign="),
          when(col("c_acctbal") >= 0, lit("pos")).otherwise(lit("neg")))))
        .as("feat"))
    feats
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(feat), 1, 15), 16, 10) AS BIGINT) % 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("feat")).as("n_feats"),
        min(col("feat")).as("example"))
      .orderBy(col("bucket"))
  }

  /** Quantile normalization — the third normalizer next to
    * [[qFeatureScale]]'s z-score/min-max: each value re-expressed as its
    * empirical quantile (rank−1)/(n−1) ∈ [0,1] within its event_type — the
    * rank transform that makes features comparable regardless of
    * distribution shape (and the input to quantile-matching pipelines).
    *
    * Semantics are a plain per-type ROW_NUMBER over the total order
    * (value, event_id); the execution is a running count
    * ([[Windows.chunkedRunningSums]]) chunked by value ranges of 16, so no
    * task owns a whole type's rows. The DuckDB oracle uses the plain
    * window; same rows, same quantiles. */
  def qQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("bucket", floor(col("value") / 16).cast("long"))
    Windows.chunkedRunningSums(e, Seq("event_type"), "bucket",
        Seq(col("value"), col("event_id")), "r" -> lit(1L))
      .withColumnRenamed("r_total", "n")
      .filter(col("n") > 1)
      .withColumn("q", floor(
        (col("r") - 1).cast("double") / (col("n") - 1).cast("double")
          * 1000000 + 0.5) / 1000000)
      .select(col("event_id"), col("event_type"), col("value"), col("q"))
  }

  /** Leave-one-out target encoding of a categorical feature — the
    * high-cardinality-safe replacement for one-hot: each order's
    * market-segment feature becomes the mean order value of ALL OTHER
    * orders in that segment, (S_seg − x)/(n_seg − 1), so a row never sees
    * its own target (the leakage a naive mean encoding trains on). A
    * second column applies additive smoothing toward the global mean with
    * prior weight m = 100 — the encoding production pipelines ship, since
    * rare categories otherwise encode as noise.
    *
    * Exactness: targets are integer cents; S_seg, n_seg, and the global
    * (S, N) are exact DECIMAL(38,0)/BIGINT aggregates. The smoothed value
    * ((S_seg − x) + m·S/N) / (n_seg − 1 + m) is multiplied through by N —
    * numerator (S_seg − x)·N + m·S, denominator (n_seg − 1 + m)·N — so
    * both operands stay exact integers and each output is ONE deterministic
    * IEEE division (then /100.0 to dollars), identical in both engines.
    *
    * Scale shape: one fact-dim equi-join (orders⋈customer on the
    * high-cardinality custkey — AQE broadcasts the dim side when it fits,
    * shuffles otherwise), one map-side-combinable rollup to |segments|
    * rows broadcast back, a one-row global broadcast, and a map-only
    * encode — the per-row work never shuffles the fact table again. */
  def qTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val oc = o.join(c, "o_custkey")
    val seg = oc.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_seg"),
        sum(col("cents").cast("decimal(38,0)")).as("s_seg"))
      .filter(col("n_seg") > 1)
    val glob = oc.agg(count(lit(1)).as("n_all"),
      sum(col("cents").cast("decimal(38,0)")).as("s_all"))
    oc.join(broadcast(seg), "c_mktsegment")
      .crossJoin(broadcast(glob))
      .select(col("o_orderkey"), col("c_mktsegment"),
        round(expr("CAST(s_seg - cents AS DOUBLE) / CAST(n_seg - 1 AS DOUBLE) / 100.0"), 6)
          .as("loo_enc"),
        round(expr(
          """CAST((s_seg - cents) * n_all + 100 * s_all AS DOUBLE)
            | / CAST((CAST(n_seg - 1 + 100 AS DECIMAL(38,0))) * n_all AS DOUBLE) / 100.0"""
            .stripMargin), 6).as("smooth_enc"))
  }

  /** Weight-of-evidence encoding + information value — [[qTargetEncode]]'s
    * sibling for BINARY targets (credit-scoring's standard categorical
    * encoder): per order-priority category, WOE = ln(smoothed positive
    * share / smoothed negative share) against the label "order finished"
    * (o_orderstatus = 'F'), plus the category's IV contribution; the
    * census row a scorecard build ships per feature level. 0.5 Laplace
    * smoothing keeps one-sided categories finite.
    *
    * Determinism: counts are exact integers; each output passes through
    * ONE ln and ONE round(·, 6) on a ratio of exact integers — the same
    * both-engines-libm discipline q_text_entropy pinned (shares and their
    * difference are computed from integers in one expression, never
    * accumulated floats).
    *
    * Scale shape: one map-side-combinable aggregation to |categories|
    * rows; the global positive/negative totals are a window over that
    * tiny census (≤ |categories| rows), then map-only math. The fact
    * table is scanned ONCE and shuffles once. */
  def qWoeEncode(spark: SparkSession, dir: String): DataFrame = {
    val cat = Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("pos")).as("pos_c"),
        (count(lit(1)) - sum(col("pos"))).as("neg_c"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    cat
      .withColumn("pos_t", sum(col("pos_c")).over(all))
      .withColumn("neg_t", sum(col("neg_c")).over(all))
      .select(col("o_orderpriority"), col("pos_c"), col("neg_c"),
        (round(expr(
          """ln(((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE)) /
            |   ((CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE)))""".stripMargin),
          6) + lit(0.0)).as("woe"),
        (round(expr(
          """((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE) -
            |  (CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE)) *
            | ln(((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE)) /
            |    ((CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE)))""".stripMargin),
          6) + lit(0.0)).as("iv_part"))
      .orderBy(col("o_orderpriority"))
  }

  /** Deterministic negative sampling for implicit-feedback training pairs
    * (the recommender / contrastive-learning data op): per purchasing
    * customer, 8 parts they did NOT buy, drawn by hashing
    * 'neg:user:slot' into the contiguous part-key space, rejecting
    * collisions with the user's positives, and keeping the first 8
    * surviving slots — all of it a pure function of (user, slot), so
    * re-runs and repartitions emit the identical pair set and the oracle
    * replays it hash-for-hash. 16 slots for 8 keeps leave the emptying
    * probability negligible at real positive/catalog ratios; a user with
    * fewer survivors emits fewer — identically in both engines.
    *
    * Scale shape: this is a corpus TRANSFORM, not a serving lookup — the
    * per-user work rides keyed joins end to end (positives via one
    * orderkey join + distinct; the ×16 slot expansion broadcasts a 16-row
    * dim against the distinct-user table; the rejection is one left-anti
    * join on the high-cardinality (user, item) key; the keep-first-8
    * window partitions by user, ≤ 16 rows each). Nothing broadcasts
    * anything that grows with the corpus. */
  def qNegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey").as("u"))
    val pos = li.join(o, "l_orderkey")
      .select(col("u"), col("l_partkey").as("item")).distinct()
    // draw into 1..max(p_partkey) — the ACTUAL catalog id range (TPC-H
    // partkeys are dense from 1), not `hash % (max+1)` which could mint
    // item 0 and gap ids no one can ever have bought, silently passing
    // the positives anti-join as phantom "negatives"
    val np = Tables.part(spark, dir).agg(max(col("p_partkey")).as("np"))
    val ks = spark.range(0, 16).select(col("id").cast("int").as("k"))
    val cand = pos.select(col("u")).distinct()
      .crossJoin(broadcast(ks))
      .crossJoin(broadcast(np))
      .withColumn("item", expr(
        "1 + CAST(conv(substring(md5(concat('neg:', CAST(u AS STRING), ':', " +
          "CAST(k AS STRING))), 1, 15), 16, 10) AS BIGINT) % np"))
    cand.join(pos, Seq("u", "item"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("k"))))
      .filter(col("rk") <= 8)
      .select(col("u"), col("rk"), col("k"), col("item").as("neg_item"))
  }

  /** Distributed GBDT split finder — ONE boosting round's histogram pass,
    * the primitive a tree trainer (XGBoost/LightGBM "hist" mode) runs per
    * node per feature: bin every row into per-feature candidate buckets,
    * map-side-combine (count, exact cent-sum) per bin, prefix-sum the
    * ≤61-row bin spine into per-threshold left/right partitions, and
    * score each candidate split's variance reduction
    * gain = ⌊S_L²/n_L⌋ + ⌊S_R²/n_R⌋ − ⌊S²/n⌋ (the SSE-decrease
    * numerator; squared sums run in DECIMAL(38,0)/HUGEINT with one floor
    * division per term, so both engines emit identical integers). Label:
    * l_extendedprice in WHOLE DOLLARS — deliberately coarser than the
    * house cent convention, because Spark's `div` returns BIGINT and the
    * quotient S²/n in cents² already exceeds Long at sf0.1 (≈1.7·10¹⁹,
    * caught by the 10× verify); dollar units keep every quotient under
    * ~10¹⁷ through sf10 while changing nothing about the split ranking.
    * Features: l_quantity (integer thresholds — binned via explicit
    * `round()` on BOTH engines, because Spark's bare `cast("long")`
    * truncates decimals while DuckDB's BIGINT cast rounds: TPC-H
    * quantities happen to be integral, but a fractional quantity would
    * otherwise land the same row in different bins per engine) and
    * l_discount (cent-of-discount thresholds). Output: every candidate split with
    * its exact partition sums and gain — the full certificate a trainer's
    * argmax would consume.
    *
    * Scale shape: the ONLY corpus-sized work is the (feature, bin)
    * rollup — map-side combinable into ≤61 cells; prefix sums and gains
    * window over the bin spine (bounded by the candidate grid, not the
    * data). This is precisely why histogram-mode GBDT trains on clusters:
    * per tree node, one linear pass + kilobytes of state. */
  def qTreeSplit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
      .select(expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("dollars"))
    val bins = li
      .select(explode(array(
        struct(lit("quantity").as("feature"), col("qty").as("bin")),
        struct(lit("discount").as("feature"), col("disc").as("bin")))).as("fb"),
        col("dollars"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("dollars")).as("s"))
    val w = Window.partitionBy(col("feature")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("feature"))
    val gain =
      """CAST(
        |  ((CAST(s_l AS DECIMAL(38,0)) * CAST(s_l AS DECIMAL(38,0))) div CAST(n_l AS DECIMAL(38,0)))
        |  + ((CAST(s_t - s_l AS DECIMAL(38,0)) * CAST(s_t - s_l AS DECIMAL(38,0))) div CAST(n_t - n_l AS DECIMAL(38,0)))
        |  - ((CAST(s_t AS DECIMAL(38,0)) * CAST(s_t AS DECIMAL(38,0))) div CAST(n_t AS DECIMAL(38,0)))
        |AS BIGINT)""".stripMargin
    bins
      .withColumn("n_l", sum(col("n")).over(w))
      .withColumn("s_l", sum(col("s")).over(w))
      .withColumn("n_t", sum(col("n")).over(wAll))
      .withColumn("s_t", sum(col("s")).over(wAll))
      .filter(col("n_l") < col("n_t")) // the top bin is "everything left": no split
      .select(col("feature"), col("bin").as("threshold"),
        col("n_l"), col("s_l"),
        (col("n_t") - col("n_l")).as("n_r"), (col("s_t") - col("s_l")).as("s_r"),
        expr(gain).as("gain"))
      .orderBy(col("feature"), col("threshold"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_tree_split" -> (qTreeSplit _,
      """WITH li AS (
        |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS qty,
        |         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
        |         CAST(ROUND(l_extendedprice) AS BIGINT) AS dollars
        |  FROM lineitem),
        |bins AS (
        |  SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(dollars) AS BIGINT) AS s
        |  FROM (SELECT 'quantity' AS feature, qty AS bin, dollars FROM li
        |        UNION ALL SELECT 'discount', disc, dollars FROM li)
        |  GROUP BY 1, 2),
        |pre AS (
        |  SELECT feature, bin,
        |         CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS n_l,
        |         CAST(SUM(s) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS s_l,
        |         CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS n_t,
        |         CAST(SUM(s) OVER (PARTITION BY feature) AS BIGINT) AS s_t
        |  FROM bins)
        |SELECT feature, bin AS threshold, n_l, s_l,
        |       n_t - n_l AS n_r, s_t - s_l AS s_r,
        |       CAST(((CAST(s_l AS HUGEINT) * s_l) // n_l)
        |          + ((CAST(s_t - s_l AS HUGEINT) * (s_t - s_l)) // (n_t - n_l))
        |          - ((CAST(s_t AS HUGEINT) * s_t) // n_t) AS BIGINT) AS gain
        |FROM pre WHERE n_l < n_t
        |ORDER BY feature, threshold""".stripMargin),
    "q_negative_sampling" -> (qNegativeSampling _,
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT MAX(p_partkey) AS np FROM part),
        |ks AS (SELECT CAST(range AS INT) AS k FROM range(0, 16)),
        |cand AS (
        |  SELECT uu.u, ks.k,
        |         1 + CAST('0x' || SUBSTR(MD5('neg:' || CAST(uu.u AS VARCHAR) || ':' ||
        |              CAST(ks.k AS VARCHAR)), 1, 15) AS BIGINT) % np.np AS item
        |  FROM (SELECT DISTINCT u FROM pos) uu CROSS JOIN ks CROSS JOIN np),
        |neg AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                    WHERE p.u = c.u AND p.item = c.item)),
        |r AS (
        |  SELECT u, k, item,
        |         ROW_NUMBER() OVER (PARTITION BY u ORDER BY k) AS rk
        |  FROM neg)
        |SELECT u, rk, k, item AS neg_item
        |FROM r WHERE rk <= 8 ORDER BY u, rk""".stripMargin),
    "q_woe_encode" -> (qWoeEncode _,
      """WITH cat AS (
        |  SELECT o_orderpriority,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos_c,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS neg_c
        |  FROM orders GROUP BY o_orderpriority),
        |tot AS (
        |  SELECT o_orderpriority, pos_c, neg_c,
        |         CAST(SUM(pos_c) OVER () AS BIGINT) AS pos_t,
        |         CAST(SUM(neg_c) OVER () AS BIGINT) AS neg_t
        |  FROM cat)
        |SELECT o_orderpriority, pos_c, neg_c,
        |       ROUND(LN(((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE)) /
        |                ((CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE))), 6)
        |         + 0.0 AS woe,
        |       ROUND(((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE) -
        |              (CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE)) *
        |             LN(((CAST(pos_c AS DOUBLE) + 0.5) / CAST(pos_t AS DOUBLE)) /
        |                ((CAST(neg_c AS DOUBLE) + 0.5) / CAST(neg_t AS DOUBLE))), 6)
        |         + 0.0 AS iv_part
        |FROM tot ORDER BY o_orderpriority""".stripMargin),
    "q_target_encode" -> (qTargetEncode _,
      """WITH oc AS (
        |  SELECT o.o_orderkey, c.c_mktsegment,
        |         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |seg AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_seg,
        |         CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s_seg
        |  FROM oc GROUP BY c_mktsegment HAVING COUNT(*) > 1),
        |tot AS (
        |  SELECT COUNT(*) AS n_all,
        |         CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s_all
        |  FROM oc)
        |SELECT oc.o_orderkey, oc.c_mktsegment,
        |       ROUND(CAST(s.s_seg - oc.cents AS DOUBLE)
        |             / CAST(s.n_seg - 1 AS DOUBLE) / 100.0, 6) AS loo_enc,
        |       ROUND(CAST((s.s_seg - oc.cents) * g.n_all + 100 * g.s_all AS DOUBLE)
        |             / CAST(CAST(s.n_seg - 1 + 100 AS HUGEINT) * g.n_all AS DOUBLE)
        |             / 100.0, 6) AS smooth_enc
        |FROM oc JOIN seg s ON oc.c_mktsegment = s.c_mktsegment
        |CROSS JOIN tot g
        |ORDER BY oc.o_orderkey""".stripMargin),
    "q_quantile_norm" -> (qQuantileNorm _,
      """WITH r AS (
        |  SELECT event_id, event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY value, event_id) AS rnk,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_id, event_type, value,
        |       FLOOR(CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |         * 1000000 + 0.5) / 1000000 AS q
        |FROM r WHERE n > 1 ORDER BY event_id""".stripMargin),
    "q_feature_hash" -> (qFeatureHash _,
      """WITH feats AS (
        |  SELECT UNNEST([
        |    'seg=' || c_mktsegment,
        |    'nation=' || CAST(c_nationkey AS VARCHAR),
        |    'bal_sign=' || CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END
        |  ]) AS feat FROM customer)
        |SELECT CAST('0x' || SUBSTR(MD5(feat), 1, 15) AS BIGINT) % 64 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_feats,
        |       MIN(feat) AS example
        |FROM feats GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q_feature_scale" -> (qFeatureScale _,
      """WITH cents AS (
        |  SELECT event_id, event_type, value,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events),
        |stats AS (
        |  SELECT event_type,
        |         CAST(SUM(CAST(vc AS HUGEINT)) AS DOUBLE)
        |           / CAST(COUNT(*) AS DOUBLE) AS mean_c,
        |         SQRT((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(vc AS HUGEINT) * vc) AS DOUBLE)
        |               - CAST(SUM(CAST(vc AS HUGEINT)) AS DOUBLE) * CAST(SUM(CAST(vc AS HUGEINT)) AS DOUBLE))
        |              / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0))) AS std_c,
        |         MIN(vc) AS mn, MAX(vc) AS mx
        |  FROM cents GROUP BY event_type
        |  HAVING COUNT(*) > 1 AND MAX(vc) > MIN(vc))
        |SELECT c.event_id, c.event_type, c.value,
        |       ROUND((CAST(c.vc AS DOUBLE) - s.mean_c) / s.std_c, 6) AS z_score,
        |       ROUND(CAST(c.vc - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE), 6) AS minmax
        |FROM cents c JOIN stats s ON c.event_type = s.event_type
        |WHERE s.std_c > 0
        |ORDER BY c.event_id""".stripMargin),
    "q_decay_score" -> (qDecayScore _,
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events),
        |horizon AS (SELECT MAX(d) AS ref FROM e),
        |terms AS (
        |  SELECT user_id,
        |         vc * (CAST(1 AS BIGINT) << (20 - LEAST(
        |           CAST(FLOOR(DATE_DIFF('day', d, ref) / 14.0) AS INT), 20))) AS term
        |  FROM e CROSS JOIN horizon)
        |SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(CAST(SUM(CAST(term AS HUGEINT)) AS DOUBLE) / 104857600.0, 6)
        |         AS decay_score
        |FROM terms GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    "q_label_balance" -> (qLabelBalance _,
      """WITH counts AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |               COUNT(*) AS n_classes FROM counts)
        |SELECT c.label, c.n,
        |       ROUND(CAST(c.n AS DOUBLE) / CAST(g.n_total AS DOUBLE), 6) AS share,
        |       ROUND(CAST(g.n_total AS DOUBLE) / CAST(g.n_classes * c.n AS DOUBLE), 6)
        |         AS class_weight
        |FROM counts c CROSS JOIN tot g
        |ORDER BY c.label""".stripMargin),
  )
}
