package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation + privacy metrics over the event stream — the ops a
  * training pipeline runs AFTER feature prep: exact ROC-AUC, calibration
  * (reliability-diagram) bins, deterministic cross-validation folds, and a
  * differentially-private release twin of the group counts. The reference
  * pipeline stops at loading shaped tables (reference
  * dags/create-data-lake.py:100-107); these are the evaluation surface a
  * consumer of those tables needs next.
  *
  * Determinism discipline (house style): every metric is exact integer
  * arithmetic up to at most ONE final IEEE division of two exact integers,
  * so DuckDB and Spark emit bit-identical doubles and the driver's
  * hash-compare is meaningful.
  */
object Evaluation extends QueryModule {

  /** Exact ROC-AUC (Mann-Whitney U) of `value` as a score for
    * purchase-vs-rest, per day-of-week cohort.
    *
    * Instead of ranking every event (a per-cohort total order — the
    * whole-key window smell), aggregate to the DISTINCT-SCORE distribution
    * first: per (dow, cents) the positive/negative counts, then one
    * ordered prefix sum over distinct scores gives
    * 2U = Σ_s [ 2·np_s·(negatives strictly below s) + np_s·nn_s ]
    * (the np·nn term is the tie correction, counted at weight 1/2).
    * AUC = 2U / (2·P·N) — one division of two exact BIGINTs.
    *
    * Scale shape: the (dow, cents) rollup is map-side combinable and its
    * cardinality is bounded by the VALUE DOMAIN (7 × distinct cent values,
    * ≤ 7·32 751 here), not the corpus — at 100 TB the window input is the
    * same few-hundred-KB table, so the per-dow prefix window never owns
    * corpus-sized partitions. */
  def qAuc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val dist = e.groupBy(col("dow"), col("cents"))
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val wBelow = Window.partitionBy(col("dow")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dist
      .withColumn("nn_below", coalesce(sum(col("nn")).over(wBelow), lit(0L)))
      .groupBy(col("dow"))
      .agg(sum(col("np")).as("npos"), sum(col("nn")).as("nneg"),
        sum(col("np") * (col("nn_below") * 2 + col("nn"))).as("u2"))
      .filter(col("npos") > 0 && col("nneg") > 0)
      .withColumn("auc",
        col("u2").cast("double") / (col("npos") * col("nneg") * 2).cast("double"))
      .select(col("dow"), col("npos"), col("nneg"), col("u2"), col("auc"))
      .orderBy(col("dow"))
  }

  /** Reliability-diagram bins: treat `value` as a model score, cut its
    * range into 10 equal-width cent bins, and compare the mean score
    * against the observed purchase rate per bin — the calibration table
    * behind ECE. All integer sums; two final divisions of exact integers.
    * One map-side-combinable rollup to ≤ 10 rows — nothing scales with the
    * corpus but the scan. */
  def qCalibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val width = 3280L // cents; 10 bins over [0, 32 800)
    Tables.events(spark, dir)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .withColumn("bin", (col("cents") / width).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("pos")).as("npos"))
      .withColumn("mean_score",
        col("sum_cents").cast("double") / (col("n") * 100).cast("double"))
      .withColumn("pos_rate", col("npos").cast("double") / col("n").cast("double"))
      .select(col("bin"), col("n"), col("npos"), col("mean_score"), col("pos_rate"))
      .orderBy(col("bin"))
  }

  /** Deterministic 5-fold cross-validation assignment: fold =
    * md5('fold:'||user) mod 5, so the split is a pure function of the user
    * id — stable across runs, partitionings, and engines, and a user can
    * never leak across folds by construction. Emits the per-fold census a
    * trainer checks before fitting (user count, event count, label rate).
    *
    * Scale shape: per-user rollup (map-side combinable on the
    * high-cardinality key) then a 5-row rollup — no window, no corpus-
    * sized state anywhere. */
  def qCrossvalFolds(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"), sum(col("pos")).as("np"))
      .withColumn("fold", expr(
        "CAST(conv(substring(md5(concat('fold:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 5"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"),
        sum(col("np")).as("npos"))
      .withColumn("pos_rate", col("npos").cast("double") / col("n_events").cast("double"))
      .orderBy(col("fold"))
  }

  /** Differentially-private release of the per-type event counts via a
    * two-sided geometric (discrete Laplace) mechanism with alpha = 1/2
    * (epsilon = ln 2) — computed ENTIRELY in integers so both engines
    * derive the identical noise: the magnitude is the leading-zero count of
    * a 52-bit md5-derived uniform (P(g = k) = 2^-(k+1), the exact inverse
    * CDF of geometric(1/2), via `52 - length(bin(m))`), the sign a second
    * independent hash bit. No floating log anywhere, so no cross-libm ulp
    * risk. The per-type rollup is map-side combinable; the noise is a
    * map-only expression over ≤ |event_type| rows.
    *
    * NOT a privacy guarantee: the noise is seeded DETERMINISTICALLY from
    * the released group key (md5 of event_type), so anyone can recompute
    * and subtract it — deterministic per-key seeding voids the ε = ln 2
    * DP claim entirely. This key validates the MECHANISM'S ARITHMETIC
    * SHAPE cross-engine (inverse-CDF geometric sampling, sign split,
    * integer release), which is exactly what an oracle can check; a real
    * release must draw the magnitude and sign from secret per-run
    * randomness, which is by construction not oracle-replayable. */
  def qDpNoise(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("true_n"))
      .withColumn("m", expr(
        "CAST(conv(substring(md5(concat('dp:', event_type)), 1, 13), 16, 10) AS BIGINT)"))
      .withColumn("g", lit(52) - length(bin(col("m"))))
      .withColumn("sgn", expr(
        "CASE WHEN CAST(conv(substring(md5(concat('dps:', event_type)), 1, 1), 16, 10) AS INT) % 2 = 0 THEN 1 ELSE -1 END"))
      .withColumn("noisy_n", col("true_n") + col("sgn") * col("g"))
      .select(col("event_type"), col("noisy_n"),
        col("g").cast("long").as("noise_mag"), col("sgn").cast("long").as("noise_sign"))
      .orderBy(col("event_type"))
  }

  /** Tokenizer-vocabulary coverage audit: rank the corpus vocabulary by
    * frequency (ties broken lexically), cap at the top 1 000 types, and
    * report per-language token coverage and OOV rate under that vocab —
    * the table that decides a tokenizer's vocab_size.
    *
    * Scale shape: term counting is a map-side-combinable rollup; the
    * top-1 000 cut is a global sort-LIMIT (TakeOrdered — O(K) per
    * partition + a K-row merge, never a full sort); the K-row vocab then
    * BROADCASTS (bounded constant, not a corpus fraction) into the
    * per-language token rollup. */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(1000)
      .select(col("token"))
    tok.join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("covered"))
      .withColumn("coverage", col("covered").cast("double") / col("n_tokens").cast("double"))
      .withColumn("oov_rate",
        (col("n_tokens") - col("covered")).cast("double") / col("n_tokens").cast("double"))
      .select(col("lang"), col("n_tokens"), col("covered"), col("coverage"), col("oov_rate"))
      .orderBy(col("lang"))
  }

  /** Treatment-uplift table for a deterministic 50/50 experiment: arm =
    * md5('uplift:'||user) parity (stable, engine-independent, balanced),
    * outcome = purchase. Per day-of-week cohort: both arms' user-weighted
    * purchase rates and their difference — the uplift curve an experiment
    * readout plots. Per-user rollup (map-side combinable), then a ≤ 7-row
    * rollup; rates are single IEEE divisions of exact integers and the
    * uplift one subtraction of those two doubles — bit-identical in both
    * engines. */
  def qUplift(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"), col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("dow"), col("user_id"))
      .agg(max(col("pos")).as("converted"))
      .withColumn("arm", expr(
        "CAST(conv(substring(md5(concat('uplift:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
      .groupBy(col("dow"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_treat"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_ctrl"))
      .withColumn("rate_treat", col("conv_treat").cast("double") / col("n_treat").cast("double"))
      .withColumn("rate_ctrl", col("conv_ctrl").cast("double") / col("n_ctrl").cast("double"))
      .withColumn("uplift", col("rate_treat") - col("rate_ctrl"))
      .orderBy(col("dow"))
  }

  /** Cohen's kappa between two deterministic weak labelers — the
    * inter-annotator-agreement table a labeling pipeline reviews before
    * trusting programmatic labels: rater A flags high-value events
    * (≥ $100.00), rater B flags conversion-type events
    * (purchase/signup). Per day-of-week: the 2×2 agreement cells and
    * κ = (n·(n11+n00) − (r1·c1 + r0·c0)) / (n² − (r1·c1 + r0·c0)) —
    * the po/pe definition multiplied through by n², so κ is ONE division
    * of two exact BIGINTs. One map-side-combinable rollup to ≤ 7 rows. */
  def qKappa(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"),
        when(expr("CAST(round(value * 100) AS BIGINT)") >= 10000L, 1L)
          .otherwise(0L).as("a"),
        when(col("event_type").isin("purchase", "signup"), 1L)
          .otherwise(0L).as("b"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"))
      .withColumn("pe_num",
        (col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00")))
      .withColumn("kappa",
        (col("n") * (col("n11") + col("n00")) - col("pe_num")).cast("double")
          / (col("n") * col("n") - col("pe_num")).cast("double"))
      .select(col("dow"), col("n"), col("n11"), col("n10"), col("n01"),
        col("n00"), col("kappa"))
      .orderBy(col("dow"))
  }

  /** Cold-start coverage of a deterministic 80/20 order split — the
    * recommender-eval census: which test-fold items were never seen in
    * training? Split = md5('split:'||orderkey) mod 5 (fold 0 = test).
    * Per brand: distinct test items, how many are cold (absent from every
    * train order), and the cold rate.
    *
    * Scale shape: the item's train/test presence folds into ONE map-side-
    * combinable max-rollup on the high-cardinality partkey (no distinct
    * sets materialized), then a fact-dim join to part for the brand and a
    * ≤ |brands| rollup. */
  def qColdstart(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      .withColumn("is_test", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(l_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 5 = 0"))
    val presence = li.groupBy(col("l_partkey"))
      .agg(max(when(col("is_test"), 1L).otherwise(0L)).as("in_test"),
        max(when(!col("is_test"), 1L).otherwise(0L)).as("in_train"))
      .filter(col("in_test") === 1)
    presence
      .join(Tables.part(spark, dir).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_test_items"),
        sum(lit(1L) - col("in_train")).as("n_cold"))
      .withColumn("cold_rate",
        col("n_cold").cast("double") / col("n_test_items").cast("double"))
      .orderBy(col("p_brand"))
  }

  /** Off-policy (counterfactual) evaluation of a deterministic target
    * policy over the logged event stream via inverse-propensity scoring —
    * the replay method for "what would the new policy have earned?"
    * without an experiment. Logging model: actions (event types) were
    * drawn uniformly (propensity 1/5, the standard replay assumption);
    * target policy π recommends 'purchase' to even-md5-parity users,
    * 'click' to odd. IPS: V = 5·Σ_{a=π(x)} r / n; SNIPS normalizes by the
    * matched mass instead of n. Rewards are exact cents; both estimates
    * are ONE division of exact integers. Per-dow map-side rollup only. */
  def qOffpolicyIps(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr(
          "CASE WHEN CAST(conv(substring(md5(concat('pi:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0 THEN 'purchase' ELSE 'click' END")
          .as("target_action"))
      .withColumn("matched", when(col("event_type") === col("target_action"), 1L).otherwise(0L))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("matched")).as("n_matched"),
        sum(col("matched") * col("cents")).as("matched_cents"))
      .withColumn("ips_value",
        (col("matched_cents") * 5).cast("double") / (col("n") * 100).cast("double"))
      .withColumn("snips_value",
        when(col("n_matched") > 0,
          col("matched_cents").cast("double") / (col("n_matched") * 100).cast("double")))
      .orderBy(col("dow"))
  }

  /** Kendall rank agreement between two scoring functions — the metric an
    * eval harness reports when deciding whether a cheap ranker can stand
    * in for an expensive one: over each language's top-30 documents (by
    * score A = length, the cheap signal), how often do score A and
    * score B = lexical diversity order a pair the same way? Exact
    * integers: concordant/discordant from cross-multiplied sign
    * comparisons, ties counted separately, tau-a in ppm.
    *
    * Scale shape: the candidate lists are rank-window-bounded (30 per
    * language), so the pair self-join is per-language CONSTANT work
    * (435 pairs) after one corpus scan — the `q_theil_sen` bounded-profile
    * discipline applied to rank correlation. */
  def qRankTau(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("lang"), col("doc_id"), col("n_chars").as("score_a"),
        expr("div(1000000 * cast(size(array_distinct(toks)) as bigint), size(toks))")
          .as("score_b"))
    val top = Materialize.shared(scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("score_a").desc, col("doc_id"))))
      .filter(col("rk") <= 30)) // bounded list feeds both pair sides
    val l = top.select(col("lang"), col("doc_id").as("i"),
      col("score_a").as("a1"), col("score_b").as("b1"))
    val r = top.select(col("lang"), col("doc_id").as("j"),
      col("score_a").as("a2"), col("score_b").as("b2"))
    l.join(r, Seq("lang")).filter(col("i") < col("j"))
      .withColumn("s", expr(
        "CAST(sign(a1 - a2) AS BIGINT) * CAST(sign(b1 - b2) AS BIGINT)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("s") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("s") === 0, 1L).otherwise(0L)).as("ties"))
      .withColumn("tau_ppm", expr("div(1000000 * (concordant - discordant), n_pairs)"))
      .orderBy(col("lang"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_rank_tau" -> (qRankTau _,
      """WITH scored AS (
        |  SELECT lang, doc_id, n_chars AS score_a,
        |         (1000000 * CAST(LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(TRIM(text)), ' ')))
        |            AS BIGINT))
        |           // CAST(LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS BIGINT) AS score_b
        |  FROM documents),
        |top AS (
        |  SELECT lang, doc_id, score_a, score_b FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |                                 ORDER BY score_a DESC, doc_id) AS rk
        |    FROM scored) WHERE rk <= 30),
        |pairs AS (
        |  SELECT l.lang,
        |         CAST(SIGN(l.score_a - r.score_a) AS BIGINT)
        |           * CAST(SIGN(l.score_b - r.score_b) AS BIGINT) AS s
        |  FROM top l JOIN top r ON l.lang = r.lang AND l.doc_id < r.doc_id)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |       CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |       CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties,
        |       (1000000 * (CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |                   - CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)))
        |         // CAST(COUNT(*) AS BIGINT) AS tau_ppm
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_offpolicy_ips" -> (qOffpolicyIps _,
      """WITH e AS (
        |  SELECT DAYOFWEEK(ts) + 1 AS dow,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type =
        |           (CASE WHEN CAST('0x' || SUBSTR(MD5('pi:' || CAST(user_id AS VARCHAR)), 1, 15)
        |                   AS BIGINT) % 2 = 0 THEN 'purchase' ELSE 'click' END)
        |         THEN 1 ELSE 0 END AS matched
        |  FROM events),
        |g AS (
        |  SELECT dow, COUNT(*) AS n,
        |         CAST(SUM(matched) AS BIGINT) AS n_matched,
        |         CAST(SUM(matched * cents) AS BIGINT) AS matched_cents
        |  FROM e GROUP BY dow)
        |SELECT dow, n, n_matched, matched_cents,
        |       CAST(matched_cents * 5 AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS ips_value,
        |       CASE WHEN n_matched > 0
        |            THEN CAST(matched_cents AS DOUBLE) / CAST(n_matched * 100 AS DOUBLE)
        |       END AS snips_value
        |FROM g ORDER BY dow""".stripMargin),
    "q_kappa" -> (qKappa _,
      """WITH e AS (
        |  SELECT DAYOFWEEK(ts) + 1 AS dow,
        |         CASE WHEN CAST(ROUND(value * 100) AS BIGINT) >= 10000 THEN 1 ELSE 0 END AS a,
        |         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS b
        |  FROM events),
        |g AS (
        |  SELECT dow, COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |         CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |         CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |         CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM e GROUP BY dow),
        |k AS (
        |  SELECT *, (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
        |  FROM g)
        |SELECT dow, n, n11, n10, n01, n00,
        |       CAST(n * (n11 + n00) - pe_num AS DOUBLE)
        |         / CAST(n * n - pe_num AS DOUBLE) AS kappa
        |FROM k ORDER BY dow""".stripMargin),
    "q_coldstart" -> (qColdstart _,
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST('0x' || SUBSTR(MD5('split:' || CAST(l_orderkey AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 5 = 0 AS is_test
        |  FROM lineitem),
        |pres AS (
        |  SELECT l_partkey,
        |         MAX(CASE WHEN is_test THEN 1 ELSE 0 END) AS in_test,
        |         MAX(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS in_train
        |  FROM li GROUP BY l_partkey)
        |SELECT p.p_brand, COUNT(*) AS n_test_items,
        |       CAST(SUM(1 - pres.in_train) AS BIGINT) AS n_cold,
        |       CAST(SUM(1 - pres.in_train) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cold_rate
        |FROM pres JOIN part p ON pres.l_partkey = p.p_partkey
        |WHERE pres.in_test = 1
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin),
    "q_uplift" -> (qUplift _,
      """WITH u AS (
        |  SELECT DAYOFWEEK(ts) + 1 AS dow, user_id,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT dow, converted,
        |         CAST('0x' || SUBSTR(MD5('uplift:' || CAST(user_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 2 AS arm
        |  FROM u),
        |g AS (
        |  SELECT dow,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |         CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_treat,
        |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
        |         CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_ctrl
        |  FROM a GROUP BY dow)
        |SELECT dow, n_treat, conv_treat, n_ctrl, conv_ctrl,
        |       CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) AS rate_treat,
        |       CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS rate_ctrl,
        |       CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
        |         - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS uplift
        |FROM g ORDER BY dow""".stripMargin),
    "q_auc" -> (qAuc _,
      """WITH e AS (
        |  SELECT DAYOFWEEK(ts) + 1 AS dow,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |dist AS (
        |  SELECT dow, cents, SUM(pos) AS np, SUM(1 - pos) AS nn
        |  FROM e GROUP BY dow, cents),
        |pref AS (
        |  SELECT dow, np, nn,
        |         COALESCE(SUM(nn) OVER (PARTITION BY dow ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
        |  FROM dist),
        |agg AS (
        |  SELECT dow, CAST(SUM(np) AS BIGINT) AS npos, CAST(SUM(nn) AS BIGINT) AS nneg,
        |         CAST(SUM(np * (nn_below * 2 + nn)) AS BIGINT) AS u2
        |  FROM pref GROUP BY dow)
        |SELECT dow, npos, nneg, u2,
        |       CAST(u2 AS DOUBLE) / CAST(npos * nneg * 2 AS DOUBLE) AS auc
        |FROM agg WHERE npos > 0 AND nneg > 0 ORDER BY dow""".stripMargin),
    "q_calibration_bins" -> (qCalibrationBins _,
      """WITH e AS (
        |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events)
        |SELECT cents // 3280 AS bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS npos,
        |       CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE) AS mean_score,
        |       CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_crossval_folds" -> (qCrossvalFolds _,
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS n_ev,
        |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT CAST('0x' || SUBSTR(MD5('fold:' || CAST(user_id AS VARCHAR)), 1, 15)
        |           AS BIGINT) % 5 AS fold, n_ev, np
        |  FROM u)
        |SELECT fold, COUNT(*) AS n_users, CAST(SUM(n_ev) AS BIGINT) AS n_events, CAST(SUM(np) AS BIGINT) AS npos,
        |       CAST(SUM(np) AS DOUBLE) / CAST(SUM(n_ev) AS DOUBLE) AS pos_rate
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin),
    "q_dp_noise" -> (qDpNoise _,
      """WITH c AS (
        |  SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type),
        |n AS (
        |  SELECT event_type, true_n,
        |         CAST('0x' || SUBSTR(MD5('dp:' || event_type), 1, 13) AS BIGINT) AS m,
        |         CASE WHEN CAST('0x' || SUBSTR(MD5('dps:' || event_type), 1, 1) AS INT) % 2 = 0
        |              THEN 1 ELSE -1 END AS sgn
        |  FROM c)
        |SELECT event_type, true_n + sgn * (52 - LENGTH(BIN(m))) AS noisy_n,
        |       CAST(52 - LENGTH(BIN(m)) AS BIGINT) AS noise_mag,
        |       CAST(sgn AS BIGINT) AS noise_sign
        |FROM n ORDER BY event_type""".stripMargin),
    "q_vocab_coverage" -> (qVocabCoverage _,
      """WITH tok AS (
        |  SELECT lang, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT lang, token FROM tok WHERE token <> ''),
        |vocab AS (
        |  SELECT token FROM tok2 GROUP BY token
        |  ORDER BY COUNT(*) DESC, token LIMIT 1000)
        |SELECT t.lang, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.token IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS covered,
        |       CAST(SUM(CASE WHEN v.token IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS coverage,
        |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM tok2 t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
  )
}
