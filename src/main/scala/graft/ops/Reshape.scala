package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reshaping + SQL-surface operators: pivot/unpivot (the state × week matrix
  * consultas the reference lake exists for), correlated subqueries through
  * the spark.sql entry point (Catalyst decorrelates them into joins — §3.4),
  * and seeded stratified sampling (training-data class balancing).
  *
  * Scale notes: pivot with EXPLICIT values is one partial+final aggregation
  * (each value a conditional agg column); without values Spark runs an extra
  * collect to discover them — always pin values in production. Unpivot is a
  * zero-shuffle Expand. Correlated subqueries decorrelate into aggregated
  * joins — same shuffle budget as writing the join by hand. sampleBy is a
  * per-row Bernoulli filter, no shuffle.
  */
object Reshape extends QueryModule {

  /** Revenue matrix: returnflag rows × linestatus columns (explicit pivot
    * values → single aggregation pass, deterministic schema). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_extendedprice")), 2))
      .withColumnsRenamed(Map("F" -> "status_f", "O" -> "status_o"))
      .orderBy(col("l_returnflag"))

  /** Inverse: melt the per-status columns back to rows. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivot(spark, dir)
      .unpivot(Array(col("l_returnflag")),
        Array(col("status_f"), col("status_o")), "status", "revenue")
      .filter(col("revenue").isNotNull)
      .orderBy(col("l_returnflag"), col("status"))

  /** Correlated + scalar subqueries through the SQL entry point: orders
    * above their customer's average order value, counted per priority. */
  def qSqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    // dir-scoped view name + drop after analysis: a global name would race
    // between concurrent callers on different dirs, and spark.sql() analyzes
    // eagerly so the view is safe to drop once the DataFrame exists.
    val view = s"orders_v_${java.lang.Integer.toHexString(dir.hashCode)}"
    Tables.orders(spark, dir).createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n_above_avg
        |FROM $view o
        |WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM $view o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |  AND o_totalprice > (SELECT AVG(o_totalprice) FROM $view) * 0.5
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** Deterministic stratified sample: ~50% of 'en' docs, ~10% of everything
    * else — the corpus-balancing primitive. Instead of an engine RNG
    * (sampleBy's Bernoulli draw is partitioning-dependent and engine-
    * specific), the keep decision is a pure function of the row: the first
    * 32 bits of md5(stratum:doc_id) compared against rate·2³². Both engines
    * compute the identical md5, so the sample is oracle-verifiable,
    * reproducible across runs/partitionings, and still a per-row map-side
    * filter with zero shuffles — the property that matters at 100 TB. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    // rate thresholds on the uniform 32-bit hash: floor(rate * 2^32)
    val enThreshold    = 2147483648L // 0.5 * 2^32
    val otherThreshold = 429496729L  // floor(0.1 * 2^32)
    Tables.documents(spark, dir)
      .withColumn("stratum", when(col("lang") === "en", "en").otherwise("other"))
      .withColumn("u32",
        conv(substring(md5(concat(col("stratum"), lit(":"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .filter((col("stratum") === "en" && col("u32") < enThreshold)
        || (col("stratum") =!= "en" && col("u32") < otherThreshold))
      .select(col("doc_id"), col("stratum"))
      .orderBy(col("doc_id"))
  }

  /** Weighted sampling without replacement (A-ExpJ / exponential clocks):
    * each row draws clock = −ln(u)/w from a DETERMINISTIC md5-derived
    * uniform u; the k smallest clocks are the sample, giving inclusion
    * probability proportional to weight — the corpus-mixing primitive for
    * "sample documents proportional to quality score". u is an exact
    * (i+1)/(2⁵²+1) rational both engines compute identically; ln is the
    * one transcendental (same cross-engine bet q_tfidf_top already wins),
    * and the top-k is a TakeOrdered, never a full sort. Seeded by the row
    * key alone → reproducible across runs, partitionings, and engines. */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clocked = Tables.orders(spark, dir)
      .withColumn("u", expr(
        """(CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 13), 16, 10) AS DOUBLE) + 1.0)
          |/ 4503599627370497.0""".stripMargin))
      .withColumn("clock", expr("-ln(u) / o_totalprice"))
    clocked
      .orderBy(col("clock"), col("o_orderkey"))
      .limit(20)
      .withColumn("pick", row_number().over(
        Window.orderBy(col("clock"), col("o_orderkey"))))
      .select(col("pick"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("weight"))
  }

  /** The SQL front door end-to-end: a multi-CTE join + window composite
    * (TPC-H Q5 shape — revenue per nation, ranked) through `spark.sql`,
    * proving CTEs, multi-way joins, window functions and the optimizer all
    * compose from SQL text exactly as from the DataFrame API. Revenue is
    * summed as DECIMAL(18,4) — the per-row 4-decimal product is exact, so
    * the sum is order-independent and needs NO rounding at output (the
    * double cast of an exact decimal is deterministic in both engines). */
  def qSqlCte(spark: SparkSession, dir: String): DataFrame = {
    val sfx = java.lang.Integer.toHexString(dir.hashCode)
    val views = Seq(
      s"lineitem_$sfx" -> Tables.lineitem(spark, dir),
      s"orders_$sfx"   -> Tables.orders(spark, dir),
      s"customer_$sfx" -> Tables.customer(spark, dir),
      s"nation_$sfx"   -> Tables.nation(spark, dir))
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try spark.sql(
      s"""WITH rev AS (
        |  SELECT n.n_name,
        |         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue
        |  FROM lineitem_$sfx l
        |  JOIN orders_$sfx o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer_$sfx c ON c.c_custkey = o.o_custkey
        |  JOIN nation_$sfx n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name)
        |SELECT n_name, CAST(revenue AS DOUBLE) AS revenue,
        |       RANK() OVER (ORDER BY revenue DESC, n_name) AS rk
        |FROM rev ORDER BY rk, n_name""".stripMargin)
    finally views.foreach { case (n, _) => spark.catalog.dropTempView(n) }
  }

  /** Recursive CTE (`WITH RECURSIVE`, Spark 4's UnionLoop execution) — the
    * SQL-front-door hierarchy walk no plain query can express: each part
    * climbs a synthetic 10-ary containment tree (parent = key div 10, the
    * digit-prefix hierarchy) to the root, and the outer query rolls every
    * category at the two top levels (1–99) up over ALL its descendants —
    * the bill-of-materials / org-chart / category-rollup recursion pattern.
    * Depth varies per part (the digit count), which is exactly what a
    * fixed-depth self-join cannot do and a recursive CTE can.
    *
    * Determinism: the walk is pure integer arithmetic (div 10 until 0);
    * money stays in exact BIGINT cents until one final division. DuckDB
    * runs the identical recursion (`//` ≡ Spark `div` on non-negative
    * keys), so the oracle hash-matches.
    *
    * Scale shape: each recursion step is a MAP-ONLY projection+filter of
    * the previous step (no join in the recursive member — single-parent
    * hierarchies never fan out), so the loop's total work is rows ×
    * digit-count ≈ 7 passes at 100 TB part cardinality; the only shuffle
    * is the final rollup to ≤ 108 category rows. Multi-parent recursions
    * (graph reachability) would instead bound depth + dedup per step —
    * the [[graft.ops.Graph.qKhop]] driver-loop twin of this operator. */
  def qSqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    val sfx = java.lang.Integer.toHexString(dir.hashCode)
    val v = s"part_$sfx"
    Tables.part(spark, dir).createOrReplaceTempView(v)
    try spark.sql(
      s"""WITH RECURSIVE anc(p_partkey, anc_key, depth, cents) AS (
        |  SELECT p_partkey, p_partkey, 0,
        |         CAST(round(p_retailprice * 100) AS BIGINT)
        |  FROM $v
        |  UNION ALL
        |  SELECT p_partkey, anc_key div 10, depth + 1, cents
        |  FROM anc WHERE anc_key > 0)
        |SELECT anc_key AS category, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
        |       CAST(SUM(cents) AS DOUBLE) / 100.0 AS subtree_value
        |FROM anc
        |WHERE depth >= 1 AND anc_key BETWEEN 1 AND 99
        |GROUP BY anc_key
        |ORDER BY category""".stripMargin)
    finally spark.catalog.dropTempView(v)
  }

  /** Correlated LATERAL join (`FROM t, LATERAL (...)`) — the third SQL
    * front-door surface next to [[qSqlCte]] and [[qSqlRecursive]]: each
    * customer row drives a correlated ORDER BY … LIMIT 3 subquery over its
    * own orders — SQL's per-row "top-k of my children" idiom. Catalyst
    * DECORRELATES the lateral limit into a ranked window over one
    * customer-key join (the same physical plan the DataFrame
    * `q_topk_per_group` builds by hand), so the per-row subquery NEVER
    * executes per row — at 100 TB this is one shuffle + one bounded window,
    * not |customers| point lookups. Total ordering: (price DESC, orderkey)
    * inside the limit, both engines. */
  def qSqlLateral(spark: SparkSession, dir: String): DataFrame = {
    val sfx = java.lang.Integer.toHexString(dir.hashCode)
    val views = Seq(
      s"customer_$sfx" -> Tables.customer(spark, dir),
      s"orders_$sfx"   -> Tables.orders(spark, dir))
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try spark.sql(
      s"""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_$sfx c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_$sfx o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    finally views.foreach { case (n, _) => spark.catalog.dropTempView(n) }
  }

  /** Deterministic train/val/test holdout split — the assignment every
    * training pipeline must get right: membership is a pure function of
    * the DOCUMENT ID (salted md5 → uniform u32; <80% train, <90% val,
    * rest test), so re-running, repartitioning, or appending data never
    * moves an existing document across splits (no leakage from val into a
    * future train run). Map-only assignment + a 3-group census with exact
    * ppm shares; the per-doc assignment is what a pipeline joins on, the
    * census is the auditable face. Thresholds are exact integer u32
    * cutoffs (floor(0.8·2^32), floor(0.9·2^32)) — no float rate compare. */
  def qSampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val trainCut = 3435973836L // floor(0.8 * 2^32)
    val valCut   = 3865470565L // floor(0.9 * 2^32)
    val assigned = Tables.documents(spark, dir)
      .withColumn("u32",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"))
      .withColumn("split",
        when(col("u32") < trainCut, "train")
          .when(col("u32") < valCut, "val")
          .otherwise("test"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("total", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("split"), col("n_docs"), col("n_chars"),
        expr("div(1000000 * n_docs, total)").as("share_ppm"))
      .orderBy(col("split"))
  }

  /** SQL PIVOT clause surface — the same reshape as [[qPivot]]'s DataFrame
    * `.pivot(...)`, but through the SQL grammar a BI layer emits (`PIVOT
    * (agg FOR col IN (...))` with multiple aggregates, which names output
    * columns `{value}_{alias}`). Money pivots in exact integer cents.
    * Plans identically to the DataFrame form: one hash aggregation on the
    * group key with the pivot values as conditional aggregates — the IN
    * list is compile-time-bounded, so the row explosion a naive
    * crosstab would pay never happens. */
  def qSqlPivot(spark: SparkSession, dir: String): DataFrame = {
    val sfx = java.lang.Integer.toHexString(dir.hashCode)
    val v = s"orders_pivot_$sfx"
    Tables.orders(spark, dir).createOrReplaceTempView(v)
    try spark.sql(
      s"""SELECT * FROM (
        |  SELECT o_orderpriority AS priority, year(o_orderdate) AS yr,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM $v)
        |PIVOT (COUNT(cents) AS n, SUM(cents) AS cents FOR yr IN (1995, 1996, 1997))
        |ORDER BY priority""".stripMargin)
    finally spark.catalog.dropTempView(v)
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_sql_pivot" -> (qSqlPivot _,
      """SELECT o_orderpriority AS priority,
        |       CAST(COUNT(CASE WHEN YEAR(o_orderdate) = 1995 THEN 1 END) AS BIGINT)
        |         AS "1995_n",
        |       CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1995
        |                THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END)
        |            AS BIGINT) AS "1995_cents",
        |       CAST(COUNT(CASE WHEN YEAR(o_orderdate) = 1996 THEN 1 END) AS BIGINT)
        |         AS "1996_n",
        |       CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
        |                THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END)
        |            AS BIGINT) AS "1996_cents",
        |       CAST(COUNT(CASE WHEN YEAR(o_orderdate) = 1997 THEN 1 END) AS BIGINT)
        |         AS "1997_n",
        |       CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1997
        |                THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END)
        |            AS BIGINT) AS "1997_cents"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_sql_lateral" -> (qSqlLateral _,
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin),
    "q_sql_recursive" -> (qSqlRecursive _,
      """WITH RECURSIVE anc(p_partkey, anc_key, depth, cents) AS (
        |  SELECT p_partkey, p_partkey, 0,
        |         CAST(ROUND(p_retailprice * 100) AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey, anc_key // 10, depth + 1, cents
        |  FROM anc WHERE anc_key > 0)
        |SELECT anc_key AS category, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
        |       CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS DOUBLE) / 100.0
        |         AS subtree_value
        |FROM anc
        |WHERE depth >= 1 AND anc_key BETWEEN 1 AND 99
        |GROUP BY anc_key
        |ORDER BY category""".stripMargin),
    "q_sample_split" -> (qSampleSplit _,
      """WITH assigned AS (
        |  SELECT doc_id, n_chars,
        |         CAST(('0x' || SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) AS u32
        |  FROM documents),
        |labeled AS (
        |  SELECT CASE WHEN u32 < 3435973836 THEN 'train'
        |              WHEN u32 < 3865470565 THEN 'val'
        |              ELSE 'test' END AS split,
        |         n_chars
        |  FROM assigned),
        |census AS (
        |  SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM labeled GROUP BY split)
        |SELECT split, n_docs, n_chars,
        |       (1000000 * n_docs) // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_ppm
        |FROM census ORDER BY split""".stripMargin),
    "q_sample_weighted" -> (qSampleWeighted _,
      """WITH clocked AS (
        |  SELECT o_orderkey, o_totalprice,
        |         -LN((CAST(CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)
        |               AS DOUBLE) + 1.0) / 4503599627370497.0)
        |           / o_totalprice AS clock
        |  FROM orders),
        |picked AS (
        |  SELECT o_orderkey, o_totalprice, clock,
        |         ROW_NUMBER() OVER (ORDER BY clock, o_orderkey) AS pick
        |  FROM clocked)
        |SELECT CAST(pick AS INT) AS pick, o_orderkey,
        |       ROUND(o_totalprice, 2) AS weight
        |FROM picked WHERE pick <= 20 ORDER BY pick""".stripMargin),
    "q_pivot" -> (qPivot _,
      """SELECT l_returnflag,
        |       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS status_f,
        |       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS status_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_unpivot" -> (qUnpivot _,
      """WITH p AS (
        |  SELECT l_returnflag,
        |         ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS status_f,
        |         ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS status_o
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, status, revenue FROM (
        |  SELECT l_returnflag, 'status_f' AS status, status_f AS revenue FROM p
        |  UNION ALL
        |  SELECT l_returnflag, 'status_o' AS status, status_o AS revenue FROM p) u
        |WHERE revenue IS NOT NULL
        |ORDER BY l_returnflag, status""".stripMargin),
    "q_sample_stratified" -> (qSampleStratified _,
      """WITH s AS (
        |  SELECT doc_id,
        |         CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS stratum
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, stratum,
        |         CAST(CONCAT('0x', SUBSTRING(md5(stratum || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS u32
        |  FROM s)
        |SELECT doc_id, stratum FROM h
        |WHERE (stratum = 'en' AND u32 < 2147483648)
        |   OR (stratum <> 'en' AND u32 < 429496729)
        |ORDER BY doc_id""".stripMargin),
    "q_sql_cte" -> (qSqlCte _,
      """WITH rev AS (
        |  SELECT n.n_name,
        |         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name)
        |SELECT n_name, CAST(revenue AS DOUBLE) AS revenue,
        |       RANK() OVER (ORDER BY revenue DESC, n_name) AS rk
        |FROM rev ORDER BY rk, n_name""".stripMargin),
    "q_sql_subquery" -> (qSqlSubquery _,
      """SELECT o_orderpriority, COUNT(*) AS n_above_avg
        |FROM orders o
        |WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |  AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders) * 0.5
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
  )
}
