package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one `private[sql]` doorway the engine needs: rebuild a DataFrame
  * from an InternalRow RDD while ADVERTISING its physical partitioning and
  * ordering. `Dataset.localCheckpoint` is supposed to preserve these
  * (SPARK-23496), but under AQE the checkpointed plan's partitioning is not
  * final at capture time and the resulting `LogicalRDD` degrades to
  * UnknownPartitioning — verified against the bundled Spark 4.1.2: a
  * checkpointed-then-joined table re-exchanges on every use. Iterative
  * algorithms (graft.ops.Graph) would pay that lost exchange once per
  * iteration; `graft.Materialize.byKey` is the caller that avoids it.
  *
  * This lives in a subpackage of `org.apache.spark.sql` purely to satisfy
  * the `private[sql]` scope of `Dataset.ofRows` — the standard extension-
  * library pattern. No Spark behavior is altered; we only construct public
  * plan nodes (`LogicalRDD` carries partitioning/ordering fields in its
  * public constructor precisely for this).
  */
object InternalDataFrames {

  /** Wrap `rdd` as a DataFrame whose plan advertises `partitioning` and
    * `ordering`. The caller is responsible for the advertisement being
    * TRUE of the rows (wrong metadata = silently wrong joins). */
  def ofPartitioned(spark: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow], partitioning: Partitioning,
      ordering: Seq[SortOrder]): DataFrame = {
    val classic = spark.asInstanceOf[ClassicSparkSession]
    ClassicDataset.ofRows(classic,
      LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(classic))
  }

  /** Wrap an arbitrary (already-resolved) logical plan as a DataFrame —
    * the doorway a library needs to hand Catalyst a CUSTOM logical node
    * (e.g. [[graft.plans.TopKPerGroup]]) and let the planner take over. */
  def ofPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)
}
