package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator family = one module. Each query key registers exactly once,
  * in `registry`, together with its DuckDB oracle twin, so a key cannot
  * exist without an oracle. SparkEntry concatenates all modules' maps.
  */
trait QueryModule {
  type Query = (SparkSession, String) => DataFrame
  /** key → (query function, oracle SQL). A module declares it after the
    * private SQL vals it reads: an object initializes its vals in order. */
  def registry: Map[String, (Query, String)]
  final lazy val queries: Map[String, Query] = registry.map { case (k, (q, _)) => k -> q }
  final lazy val oracle: Map[String, String] = registry.map { case (k, (_, sql)) => k -> sql }
}
