package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}

/** A session on an existing context with none of the engine's extensions —
  * the shape a caller gets from a plain `SparkSession.builder()`, which the
  * one running SparkContext per JVM otherwise keeps tests from building.
  * Lives under `org.apache.spark.sql` for the `private[sql]` constructor. */
object BareSession {
  def on(sc: SparkContext): SparkSession = new ClassicSparkSession(sc)
}
