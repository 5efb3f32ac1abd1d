package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.graftshim.InternalDataFrames

/** Checkpoint a DataFrame WITHOUT losing its partitioning — the missing
  * primitive for iterative dataflows on Spark.
  *
  * `df.localCheckpoint()` truncates lineage (mandatory in a loop, or the
  * plan doubles per iteration) but, under AQE, forgets the physical layout:
  * the restored `LogicalRDD` reports UnknownPartitioning, so every
  * downstream join re-exchanges AND re-sorts a table that is already
  * hash-placed and sorted. For a PageRank-shaped loop that is one wasted
  * full shuffle of the edge table per iteration.
  *
  * This helper does what `Dataset.localCheckpoint` does — repartition,
  * copy the unsafe rows, `RDD.localCheckpoint()` — but then rebuilds the
  * DataFrame advertising the layout it just MADE TRUE by construction:
  * `HashPartitioning(key, n)` from the explicit repartition, ascending
  * in-partition order by the same key from `sortWithinPartitions`. A
  * subsequent sort-merge join on `key` against another table checkpointed
  * the same way needs zero exchanges and zero sorts on either side.
  */
object PartitionedCheckpoint {

  /** Hash-place `df` on `key` into `numParts` partitions, sort each
    * partition by `key`, localCheckpoint, and return a DataFrame that
    * remembers all of it. Lazy like `localCheckpoint(eager = false)`:
    * materialized by the first action, cached MEMORY_AND_DISK. `level`
    * overrides the cache storage: corpus-sized checkpoints that must coexist with
    * memory-hungry downstream stages belong in MEMORY_AND_DISK_SER (a
    * 24M-row edge table caches ~5× smaller serialized than as row
    * objects, and serialized blocks are evictable under execution
    * pressure where a deserialized working set OOMs first — the
    * q_triangle sf1.0 lesson). localCheckpoint always forces useDisk so
    * truncated lineage stays recoverable after eviction. */
  def byKey(df: DataFrame, key: String, numParts: Int,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    val placed = df.repartition(numParts, col(key)).sortWithinPartitions(key)
    val qe = placed.queryExecution
    val attrs = qe.analyzed.output
    val keyAttr = attrs.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(s"no column '$key' in ${attrs.map(_.name)}"))
    // same row-copy discipline as Dataset.checkpoint: the scan reuses one
    // mutable UnsafeRow per partition, which must not be cached as-is
    val rdd = qe.toRdd.map(_.copy())
    // RDD.localCheckpoint honors a pre-set level (adding useDisk, which
    // keeps the truncated lineage recoverable after eviction)
    rdd.persist(level)
    rdd.localCheckpoint()
    InternalDataFrames.ofPartitioned(spark, attrs, rdd,
      HashPartitioning(Seq(keyAttr), numParts),
      Seq(SortOrder(keyAttr, Ascending)))
  }
}
