package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the harness parquet tables (see TESTDATA.md).
  *
  * The reference engine reads a CSV and a REST-JSON payload eagerly with
  * pandas (reference dags/create-data-lake.py:69,95-97); here every scan is a
  * lazy Spark parquet source, so Catalyst pushes predicates and prunes
  * columns into the scan — the property that matters at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** Normalize the `ts` column to microsecond TimestampType regardless of
    * how the generator wrote it. The harness has shipped events.parquet both
    * as TIMESTAMP(NANOS) (surfaces as LongType under the nanosAsLong legacy
    * conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaces as
    * TIMESTAMP_NTZ under Spark's NTZ inference) — a loader hard-wired to one
    * encoding silently drops every events-based query when the data is
    * regenerated with the other. Dispatch on the RESOLVED type:
    *   - LongType: epoch-nanos; integer `div 1000` (not double division —
    *     ~1.7e18 exceeds a double's 2^53 exact range) then timestamp_micros.
    *     GUARDED: a Long that is not in the plausible epoch-nanos range
    *     (2001–2096, i.e. [1e18, 3e18)) raises at execution instead of
    *     silently converting — if a future regeneration ships ts as plain
    *     epoch-micros BIGINT, every value would otherwise be divided 1000×
    *     off with a green-looking load (a ts-encoding change once failed
    *     49 keys behind a green-looking gate). The guard is a per-row codegen'd
    *     comparison, not a driver-side job, so the loader stays lazy.
    *   - TIMESTAMP_NTZ: cast to TimestampType; the session timezone is
    *     pinned to UTC so the instant matches what DuckDB reads.
    *   - TimestampType: already canonical.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr(
          """CASE
            |  WHEN ts IS NULL THEN CAST(NULL AS BIGINT)
            |  WHEN ts >= 1000000000000000000 AND ts < 3000000000000000000
            |    THEN ts div 1000
            |  ELSE raise_error(concat(
            |    'events.ts LongType value outside plausible epoch-nanos range ',
            |    '[1e18, 3e18): ', CAST(ts AS STRING),
            |    ' — the generator encoding may have drifted (micros? millis?); ',
            |    'refusing to normalize silently'))
            |END""".stripMargin)))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
