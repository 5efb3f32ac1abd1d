package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Set operations (SURVEY.md §2.2): the reference's re-run model is an
  * append/replace of whole loads (reference dags/create-data-lake.py:38,50) —
  * union/intersect/except are how two loads get compared or combined.
  *
  * Scale notes: UNION ALL is a zero-shuffle concatenation of partitions.
  * INTERSECT/EXCEPT compile to aggregate + join on all columns — keep the
  * projected column set narrow so the shuffle carries only the keys.
  */
object SetOps extends QueryModule {

  /** Append two filtered batches (UNION ALL semantics via unionByName). */
  def qUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"), lit("batch_f").as("batch"))
    val b = o.filter(col("o_totalprice") > 50000)
      .select(col("o_orderkey"), col("o_totalprice"), lit("batch_big").as("batch"))
    a.unionByName(b)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("batch"))
  }

  /** Distinct keys present in both sides. */
  def qIntersect(spark: SparkSession, dir: String): DataFrame = {
    val withOrders = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val rich = Tables.customer(spark, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    withOrders.intersect(rich).orderBy(col("custkey"))
  }

  /** Distinct keys in the left side only (diff two loads). */
  def qExcept(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.customer(spark, dir).select(col("c_custkey").as("custkey"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("o_custkey").as("custkey"))
    all.except(recent).orderBy(col("custkey"))
  }

  /** Bag-semantics intersect: each custkey kept min(count_left, count_right)
    * times — the multiset algebra INTERSECT/EXCEPT specialize from. Spark
    * plans intersectAll/exceptAll as an aggregate computing both
    * multiplicities + a generate replicating min/difference — one shuffle,
    * no row-by-row matching. Counting by key makes the multiplicity
    * contract directly visible (and checkable) in the output. */
  def qIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val withOrders = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val rich = Tables.customer(spark, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    withOrders.intersectAll(rich)
      .groupBy(col("custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("custkey"))
  }

  /** Bag-semantics except: orders minus ONE occurrence per F-status order —
    * count_left − count_right copies survive (vs except's all-or-nothing). */
  def qExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val f = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    all.exceptAll(f)
      .groupBy(col("custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("custkey"))
  }

  /** Schema-evolving append: unionByName(allowMissingColumns=true) aligns
    * columns BY NAME and null-fills what either side lacks — the operation
    * behind appending a new load whose schema drifted (a column added or
    * dropped between batches, the reference's re-run reality over time).
    * Positional UNION ALL would silently misalign; by-name union is the
    * only safe form once schemas evolve. Still a zero-shuffle concat. */
  def qUnionByName(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("acctbal"), lit("customer").as("kind"))
    val s = Tables.supplier(spark, dir).filter(col("s_acctbal") > 9000)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_nationkey").cast("long").as("nationkey"), lit("supplier").as("kind"))
    c.unionByName(s, allowMissingColumns = true)
      .orderBy(col("kind"), col("id"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_union" -> (qUnion _,
      """SELECT batch, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM (
        |  SELECT o_orderkey, o_totalprice, 'batch_f' AS batch FROM orders
        |  WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'batch_big' AS batch FROM orders
        |  WHERE o_totalprice > 50000) t
        |GROUP BY batch ORDER BY batch""".stripMargin),
    "q_union_by_name" -> (qUnionByName _,
      """SELECT * FROM (
        |  SELECT c_custkey AS id, c_name AS name,
        |         ROUND(c_acctbal, 2) AS acctbal, 'customer' AS kind
        |  FROM customer WHERE c_acctbal > 9000
        |  UNION ALL BY NAME
        |  SELECT s_suppkey AS id, s_name AS name,
        |         CAST(s_nationkey AS BIGINT) AS nationkey, 'supplier' AS kind
        |  FROM supplier WHERE s_acctbal > 9000) t
        |ORDER BY kind, id""".stripMargin),
    "q_intersect" -> (qIntersect _,
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin),
    "q_except" -> (qExcept _,
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY custkey""".stripMargin),
    "q_intersect_all" -> (qIntersectAll _,
      """SELECT custkey, COUNT(*) AS multiplicity FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  INTERSECT ALL
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000) t
        |GROUP BY custkey ORDER BY custkey""".stripMargin),
    "q_except_all" -> (qExceptAll _,
      """SELECT custkey, COUNT(*) AS multiplicity FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT ALL
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F') t
        |GROUP BY custkey ORDER BY custkey""".stripMargin),
  )
}
