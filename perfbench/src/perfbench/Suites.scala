package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The query-suite workloads: fixed key lists over the sf0.1 tables of
  * [[SuiteData]].
  *
  * `suite_plan` holds keys whose query function hands Spark one plan with no
  * eager barrier and no `localCheckpoint`; `suite_materialize` holds keys
  * whose query function runs eager jobs, materializes intermediates or
  * writes lake files. Both lists are subsets of the full groups, cut so one
  * pass fits the benchmark's run length; every group keeps members (see
  * perfbench/README.md for the full groups and the cut).
  */
object Suites {

  val Plan: Seq[String] = Seq(
    "q_join_inner",                                  // Joins
    "q_agg_group",                                   // Aggregations
    "q_topk_per_group", "q_topk_per_group_native",   // Windows: custom strategy, built-in twin
    "q_intersect",                                   // SetOps
    "q_fn_json", "q_stamp",                          // Functions
    "q_pivot",                                       // Reshape
    "q_sessionize",                                  // EventAnalytics
    "q_stream_tumble",                               // StreamingShaped
    "q_feature_hash")                                // FeaturePrep

  val Materialize: Seq[String] = Seq(
    "q_kcore_cert",          // Graph: PartitionedCheckpoint rounds
    "q_merge_upsert",        // TxnLog: lake writes, driver-side collects
    "q_ann_nndescent",       // lazily checkpointed index build
    "q_win_count_distinct")  // localCheckpoint inside a plan-only module

  /** Keys whose output depends on the wall clock: only their row count is
    * checked. */
  val CountOnly: Map[String, String] = Map(
    "q_stamp" -> "stamps rows with current_timestamp()")

  def keys(workload: String): Seq[String] = workload match {
    case "suite_plan" => Plan
    case "suite_materialize" => Materialize
  }

  lazy val moduleOf: Map[String, String] =
    SparkEntry.queryFamilies.toSeq.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  def query(key: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(key, sys.error(s"unknown query key $key"))

  /** Row count plus an order-insensitive hash of every column: the sum (mod
    * 2^61) and the xor of one xxhash64 per row. Doubles are rounded to 6
    * decimals and nested values hashed through their JSON text, so the
    * figure depends on values, not on partitioning or float summation order
    * in the last bits. */
  def fingerprint(df: DataFrame, countOnly: Boolean): Map[String, Any] = {
    if (countOnly) return Map("rows" -> df.count())
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _: VariantType | _: UserDefinedType[_] => c.cast(StringType)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit((1L << 61) - 1)).cast(DecimalType(38, 0))),
        bit_xor(col("h")))
      .head()
    val sumMod = Option(r.getDecimal(1)).map(_.toBigInteger.mod(
      java.math.BigInteger.valueOf((1L << 61) - 1)).longValue).getOrElse(0L)
    Map("rows" -> r.getLong(0),
      "hash" -> f"$sumMod%016x${Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)}%016x")
  }
}
