package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.ops._
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.flagship(spark, "/root/testdata/sf0.001")
  /** All operator modules; each contributes query keys from SURVEY.md §2. */
  private val modules: Seq[QueryModule] = Seq(Relational, Joins, Aggregations, Windows, SetOps, Functions,
      StreamingShaped, Dedup, Similarity, TextAnalysis, Multimodal, Reshape, Corpus,
      EventAnalytics, Profiling, Graph, Behavior, FeaturePrep, Evaluation)
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)
  /** The same keys grouped by operator family (module), for the bench's
    * concurrent mode: independent families are what a real lake driver
    * submits from parallel threads (reference runs its two dataflows as
    * independent Airflow tasks — SURVEY.md §2.1 R11). */
  def queryFamilies: Map[String, Map[String, (SparkSession, String) => DataFrame]] =
    modules.map(m => m.getClass.getSimpleName.stripSuffix("$") -> m.queries).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; every key has one. */
  def oracleSql: Map[String, String] =
    modules.map(_.oracle).reduce(_ ++ _)
}
