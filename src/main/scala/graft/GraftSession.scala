package graft

import graft.functions.CosineSimilarity
import graft.ops.Relational
import graft.plans.GraftExtensions
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the conf an operator of this engine should
  * run with, at laptop or cluster scale. Everything here is about shuffle
  * and scan economics (SURVEY.md §4.2):
  *
  *  - shuffle.partitions sized to the parallelism actually available
  *    (default 200 is wrong in both directions: too many tiny tasks on a
  *    laptop, usually too few on a 1000-executor cluster — pass cores ×
  *    executors × 2-3 there). AQE coalesces down when partitions run small.
  *  - AQE on with skew-join splitting: runtime re-planning beats any static
  *    estimate at 100 TB; pathological keys beyond AQE's split threshold use
  *    [[graft.ops.Scale.saltedJoin]].
  *  - 256 MiB scan partitions: big enough to amortize task overhead against
  *    columnar parquet scans, small enough to fit comfortably in executor
  *    memory with room for a hash aggregate.
  *  - UTC session timezone: all date logic timezone-pure (the DuckDB oracle
  *    and any cross-system consumer agree).
  *  - a codegen cache that holds the engine's working set of generated
  *    classes ([[CodegenCacheEntries]]), so a long-lived session compiles
  *    each whole-stage and expression class once, not once per execution.
  *
  * It is also the one place the engine plugs into Catalyst: every session
  * is built with [[GraftExtensions]], so the native functions and the
  * top-k-per-group strategy are part of the session state from the start
  * and no query has to register anything. It also installs [[SinkCleanup]],
  * so the directories queries write below [[Relational.sinkRoot]] go when
  * the application ends.
  */
object GraftSession {

  /** Entries in Catalyst's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark default 100). One pass of the 316 keys generates about 4,300
    * distinct classes (4,296 at sf0.01, 4,293 at sf0.1), and the 4
    * `suite_materialize` keys alone about 200, so at 100 the LRU evicts
    * every class before its next use and each execution pays Janino again.
    * This is the smallest power of two above the measured working set.
    * Holding it costs tens of MB of metaspace: after two passes of the 316
    * keys 228 MB at 8192 against 215 MB at 100 (193 MB once a full GC has
    * unloaded the evicted classes).
    *
    * Holds only if no codegen runs in this JVM before [[build]]:
    * `CodeGenerator` sizes its cache once, from the conf active the first
    * time it is used, and a JVM that compiled anything earlier keeps 100. */
  val CodegenCacheEntries = 8192

  /** Deletes this JVM's sink directories ([[Relational.deleteSinks]]) once
    * the application has ended. Installed through `spark.extraListeners`,
    * so the context creates exactly one, however often [[build]] runs. */
  final class SinkCleanup extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      Relational.deleteSinks()
  }

  def build(master: String, parallelism: Int,
      appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    // getOrCreate silently ignores static confs (master!) and extensions on
    // an existing session while still applying runtime confs — a
    // half-reconfigured session is worse than an error, so refuse a master
    // mismatch, or a session built without the extensions, outright.
    SparkSession.getDefaultSession.filter(s => !s.sparkContext.isStopped)
      .foreach { existing =>
        val m = existing.sparkContext.master
        require(m == master,
          s"a SparkSession with master '$m' already exists; cannot rebuild as '$master'")
        require(existing.sessionState.functionRegistry.functionExists(CosineSimilarity.ident),
          "a SparkSession built without graft.plans.GraftExtensions already exists; " +
            "its queries could not resolve the engine's native functions")
      }
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${256 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); set at build time so no
      // loader has to mutate session conf as a read side effect
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables written one-file-per-bucket + sortBy should satisfy
      // a merge join's ordering without re-sorting; Spark disables the
      // sorted-scan property by default (SPARK-28595 — the one-file check
      // costs a listing) and this engine opts back in: it only affects
      // scans of bucketed tables, and the q_join_bucketed layout is written
      // to satisfy it (see Joins.qJoinBucketed)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.extraListeners", classOf[SinkCleanup].getName)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** The local entry-point shape Verify/Bench/Explain share: every
    * session conf lives in [[build]], so a new shared conf is a one-line
    * change instead of an edit to six hand-rolled builders. */
  def buildLocal(cpus: String, appName: String,
      extraConf: Map[String, String] = Map.empty): SparkSession =
    build(s"local[$cpus]", cpus.toInt, appName,
      Map("spark.ui.enabled" -> "false") ++ extraConf)
}
