package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.InternalDataFrames
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ListBuffer

/** The one place a query materializes an intermediate. Every checkpoint
  * is a local checkpoint: it truncates the lineage and caches the rows in
  * the executors' block managers, so a frame read by several consumers,
  * or carried from one loop round to the next, is computed once.
  *
  * Blocks made inside [[scoped]] are released when the scope ends; outside
  * one, nothing is recorded and the ContextCleaner frees them once the
  * frame is garbage. Inside [[inline]] nothing is materialized, so a test
  * can plan a key's whole tree instead of stopping at checkpoint scans.
  */
object Materialize {

  /** RDDs checkpointed on this thread in the innermost [[scoped]] body;
    * null outside any scope. */
  private val made = new ThreadLocal[ListBuffer[RDD[_]]]
  private val inlined = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private def recorded(df: DataFrame): DataFrame = {
    val s = made.get
    if (s != null) s ++= checkpointRdd(df)
    df
  }

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** A lazy checkpoint for a frame several consumers read. Lazy only in
    * its last stage: under AQE the call plans the frame adaptively, which
    * runs every shuffle and broadcast stage under it as a job now; the
    * result stage, which fills the cache, runs with the first consumer. A
    * frame with no exchange runs no job at the call. `level` is the cache
    * storage; local checkpoints always add disk, so an evicted block is
    * re-read, never recomputed. */
  def shared(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (inlined.get) df else recorded(df.localCheckpoint(eager = false, level))

  /** An eager checkpoint: runs a job now. For loop rounds whose predecessor
    * is to be [[release]]d, which is safe only once this round no longer
    * reads it. */
  def barrier(df: DataFrame): DataFrame =
    if (inlined.get) df else recorded(df.localCheckpoint())

  /** A lazy checkpoint that keeps its layout: hash-placed on `key` into
    * `numParts` partitions and sorted by `key` within each. A plain local
    * checkpoint comes back under AQE as UnknownPartitioning, so every join
    * on it re-exchanges and re-sorts; this one advertises the layout it
    * made true, so a sort-merge join on `key` against another `byKey`
    * frame on the same `numParts` needs neither. `level` as in [[shared]]:
    * corpus-sized frames that must coexist with memory-hungry stages
    * belong in a serialized level, which caches smaller and is evictable. */
  def byKey(df: DataFrame, key: String, numParts: Int,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val placed = df.repartition(numParts, col(key)).sortWithinPartitions(key)
    if (inlined.get) return placed
    val qe = placed.queryExecution
    val attrs = qe.analyzed.output
    val keyAttr = attrs.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(s"no column '$key' in ${attrs.map(_.name)}"))
    // the scan reuses one mutable UnsafeRow per partition, which must not
    // be cached as-is (the same copy Dataset.checkpoint makes)
    val rdd = qe.toRdd.map(_.copy())
    // localCheckpoint keeps a pre-set level, adding disk to it
    rdd.persist(level)
    rdd.localCheckpoint()
    recorded(InternalDataFrames.ofPartitioned(df.sparkSession, attrs, rdd,
      HashPartitioning(Seq(keyAttr), numParts), Seq(SortOrder(keyAttr, Ascending))))
  }

  /** Drop a checkpointed frame's blocks now. Its lineage is cut, so any
    * later action on the frame fails on the missing blocks: release only a
    * frame whose every consumer has already run. No-op on a frame that is
    * not a checkpoint. */
  def release(df: DataFrame): Unit =
    if (!inlined.get) checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Run `body`, then release every checkpoint made on this thread inside
    * it, whether `body` returns or throws. Wrap one key's build and its
    * action: the blocks live exactly as long as the key. */
  def scoped[A](body: => A): A = {
    val outer = made.get
    val mine = ListBuffer.empty[RDD[_]]
    made.set(mine)
    try body
    finally {
      made.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** Run `body` with every checkpoint a pass-through: [[shared]] and
    * [[barrier]] return the frame, [[byKey]] only places and sorts it, and
    * [[release]] does nothing. For plan tests only: the frames it builds
    * re-derive each shared subtree once per consumer. */
  def inline[A](body: => A): A = {
    val outer = inlined.get
    inlined.set(true)
    try body finally inlined.set(outer)
  }
}
