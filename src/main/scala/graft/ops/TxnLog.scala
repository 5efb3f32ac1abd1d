package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal optimistic-concurrency transaction log — the atomic-commit
  * protocol a lakehouse table format (Delta/Iceberg) wraps around the
  * plain-parquet maintenance jobs this repo already ships
  * (`q_sink_compact`, `q_compaction_plan`, `q_ivm_agg`): data files are
  * immutable; each commit writes `_txnlog/v<N>.txt` listing the table's
  * LIVE files after version N; and version N is claimed atomically via
  * put-if-absent file creation (`Files.createFile` throws if vN exists —
  * the same primitive Delta uses on object stores). A writer that loses
  * the race re-reads the new head, REVALIDATES its intent against it, and
  * retries at the next version; a compaction whose base files are no
  * longer live must abort (its rewrite would resurrect replaced data).
  *
  * 100 TB shape: commits move KILOBYTES (file lists), never data; readers
  * pin a version (snapshot isolation — a long scan never sees a torn mix
  * of pre- and post-compaction files) and time-travel by reading an older
  * log entry. The certificate key `q_txn_commit` races an append against
  * a stale-base compaction and proves isolation via per-version row/
  * checksum censuses (content invariant under compaction, append adds
  * exactly the batch). */
object TxnLog {

  private def logDir(path: String) = java.nio.file.Paths.get(path, "_txnlog")
  private def vFile(path: String, v: Long) = logDir(path).resolve(s"v$v.txt")
  private def ckptFile(path: String) = logDir(path).resolve("_last_checkpoint")

  /** Every `CheckpointInterval`-th commit refreshes `_last_checkpoint`, so
    * head resolution replays at most this many existence probes past the
    * recorded version instead of LISTing the whole log — the Delta
    * `_last_checkpoint` mechanism. (Each v<N>.txt is already a FULL live-
    * file snapshot, so unlike Delta no action replay is needed — only the
    * head SEARCH was O(versions).) */
  val CheckpointInterval = 8L

  /** Best-effort monotonic advance of the `_last_checkpoint` hint. A racing
    * writer can only leave a SMALLER committed version behind — never a
    * version that doesn't exist — and a stale hint costs extra probes, not
    * correctness ([[resolveHead]] walks forward until a version is absent). */
  private def advanceCheckpoint(path: String, v: Long): Unit = {
    try {
      val cur = readCheckpoint(path)
      if (v > cur) {
        val tmp = java.nio.file.Files.createTempFile(logDir(path), "ckpt", ".tmp")
        java.nio.file.Files.writeString(tmp, v.toString)
        java.nio.file.Files.move(tmp, ckptFile(path),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    } catch { case _: java.io.IOException => () } // a hint, never load-bearing
  }

  private def readCheckpoint(path: String): Long =
    try java.nio.file.Files.readString(ckptFile(path)).trim.toLong
    catch { case _: Throwable => -1L }

  /** Head search by forward existence probes from the checkpoint hint:
    * returns (head, probes). Probe count ≤ tail-since-checkpoint + 1 —
    * bounded by [[CheckpointInterval]] under steady commits (spec-pinned)
    * — where the directory LIST it replaces is O(total versions) on an
    * object store. */
  private[graft] def resolveHead(path: String): (Long, Int) = {
    if (!logDir(path).toFile.exists()) return (-1L, 0)
    var v = readCheckpoint(path) // -1 when absent: probe from v0
    var probes = 0
    var next = v + 1
    while ({ probes += 1; java.nio.file.Files.exists(vFile(path, next)) }) {
      v = next; next += 1
    }
    (v, probes)
  }

  /** Highest committed version, or -1 for an empty log. */
  def headVersion(path: String): Long = resolveHead(path)._1

  /** Live data files (absolute paths) at `version`. Lines starting with
    * `#` are metadata (the `#app:` idempotence markers of [[appendOnce]]),
    * not paths. */
  def liveFiles(path: String, version: Long): Seq[String] =
    java.nio.file.Files.readAllLines(vFile(path, version))
      .toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Snapshot read pinned at `version` — time travel. */
  def read(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(liveFiles(path, version): _*)

  /** Atomically claim `version` with the given live-file list. Returns
    * false if another writer already committed that version (the
    * put-if-absent race loss). */
  private[graft] def tryCommit(path: String, version: Long, live: Seq[String]): Boolean = {
    java.nio.file.Files.createDirectories(logDir(path))
    val tmp = java.nio.file.Files.createTempFile(logDir(path), s"v$version", ".tmp")
    java.nio.file.Files.writeString(tmp, live.mkString("\n"))
    // claim the version name with a hard link, which fails if the target
    // exists (link(2) is the put-if-absent / atomic conditional-PUT
    // primitive a real table format runs on). Files.move without
    // REPLACE_EXISTING is not: it checks for the target, then rename(2)
    // replaces it, so two racing writers could both claim one version.
    try {
      java.nio.file.Files.createLink(vFile(path, version), tmp)
      if (version % CheckpointInterval == 0L) advanceCheckpoint(path, version)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp): Unit
  }

  private val writeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write `df` as `nFiles` parquet files under an unclaimed subdirectory
    * and return their paths — data lands BEFORE any commit references it,
    * so a lost race leaves only unreferenced files (GC'd by vacuum),
    * never a torn table. The dir name carries a process-unique sequence
    * number: nanoTime alone can collide across writer threads (observed
    * as a 1-in-N flake in the threaded-append test), and two writers
    * sharing a data dir interleave their part files into both commits. */
  private def writeData(df: DataFrame, path: String, tag: String, nFiles: Int): Seq[String] = {
    val dir = s"$path/data/${tag}_${System.nanoTime()}_${writeSeq.incrementAndGet()}"
    df.repartition(nFiles).write.parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq.sorted
  }

  /** Create the table: version 0 holds `df` as `nFiles` files. */
  def init(df: DataFrame, path: String, nFiles: Int): Long = {
    val files = writeData(df, path, "init", nFiles)
    require(tryCommit(path, 0L, files), s"table already exists at $path")
    0L
  }

  /** Append `df` (as one file): read head, claim head+1 retrying on race
    * losses — an append conflicts with nothing (it only adds files), so
    * revalidation always passes. Returns (committedVersion, attempts). */
  def append(df: DataFrame, path: String): (Long, Int) = {
    val files = writeData(df, path, "append", 1)
    var attempts = 0
    var v = headVersion(path) + 1
    while (true) {
      attempts += 1
      if (tryCommit(path, v, liveFiles(path, v - 1) ++ files)) return (v, attempts)
      v = headVersion(path) + 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exactly-once append for at-least-once writers (a streaming
    * foreachBatch sink replaying a micro-batch after a crash between sink
    * write and checkpoint commit — the Delta `txnAppId`/`txnVersion`
    * idempotence pattern): the committing version file carries a
    * `#app:<appId>:<batchId>` marker line, and a second submission of the
    * same (appId, batchId) finds the marker and SKIPS — so at-least-once
    * delivery lands exactly-once table state. Returns (version, true) on
    * a fresh commit or (-1, false) on a detected duplicate. The duplicate
    * check re-runs under every head the commit loop observes, closing the
    * race where a twin of this batch commits while this writer stages
    * data. Retention caveat (same as Delta's): vacuum drops log entries
    * below its boundary, and markers go with them — a writer must not
    * replay batches older than the table's retention horizon.
    *
    * 100 TB shape: the marker scan here reads the O(retained-versions)
    * log tail; a production format folds the (appId → last batchId) map
    * into the periodic checkpoint (Delta's SetTransaction actions), making
    * the probe O(1). The data/commit split is unchanged from [[append]]:
    * kilobytes move at commit, never rows. */
  def appendOnce(df: DataFrame, path: String, appId: String,
      batchId: Long): (Long, Boolean) = {
    if (committedBatches(path, appId).contains(batchId)) return (-1L, false)
    val files = writeData(df, path, "append", 1)
    var v = headVersion(path) + 1
    while (true) {
      if (committedBatches(path, appId).contains(batchId)) return (-1L, false)
      val prior = if (v == 0) Seq.empty[String] else liveFiles(path, v - 1)
      if (tryCommit(path, v, prior ++ files :+ s"#app:$appId:$batchId"))
        return (v, true)
      v = headVersion(path) + 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Batch ids `appId` has committed among the RETAINED log entries. */
  def committedBatches(path: String, appId: String): Set[Long] = {
    val head = headVersion(path)
    val prefix = s"#app:$appId:"
    (0L to head).flatMap { v =>
      val f = vFile(path, v)
      if (!java.nio.file.Files.exists(f)) Seq.empty // vacuumed prefix
      else java.nio.file.Files.readAllLines(f)
        .toArray(Array.empty[String]).toSeq
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)
    }.toSet
  }

  /** Compact the files that were live at `baseVersion` into one file and
    * commit optimistically — FIRST attempting baseVersion+1 (the stale
    * head this writer believed in), then revalidating against the real
    * head on each race loss: every base file must still be live there
    * (an appended file is fine; a missing base file means another rewrite
    * won and this one must abort). Returns (committedVersion, attempts).
    */
  def compactFrom(spark: SparkSession, path: String, baseVersion: Long): (Long, Int) = {
    val base = liveFiles(path, baseVersion)
    val compacted = writeData(read(spark, path, baseVersion), path, "compact", 1)
    var attempts = 0
    var v = baseVersion + 1
    while (true) {
      attempts += 1
      val headLive = liveFiles(path, v - 1)
      require(base.forall(headLive.contains),
        s"conflict: a base file was replaced since v$baseVersion — aborting compaction")
      if (tryCommit(path, v, headLive.diff(base) ++ compacted)) return (v, attempts)
      v = headVersion(path) + 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** `input_file_name()` URIs back to the absolute paths the log stores.
    * The URI is percent-encoded, so a table path holding a space, `%` or
    * `#` must be decoded by a URI parser, not prefix-stripped. */
  private def toLocalPath(uri: String): String =
    if (uri.startsWith("file:")) java.net.URI.create(uri).getPath else uri

  /** [[toLocalPath]] of each row's `input_file_name()`, for joining scanned
    * rows against the file lists of the log. */
  private[ops] def inputFilePath: Column = udf(toLocalPath _).apply(input_file_name())

  /** Row-level MERGE (upsert by `key`) committed through the log — the
    * scalable dual of the reference's replace-mode load
    * (create-data-lake.py:38-62) and the missing lakehouse write op next
    * to append/compact/vacuum/CDF: only the live files that CONTAIN a
    * matched key are rewritten (surviving rows anti-joined + the full
    * change set, [[Relational.mergeByKey]] semantics); every other file
    * survives by name. Commit revalidates against the real head on every
    * race loss — a lost race against a DISJOINT writer (appended or
    * rewrote only unmatched-key files) just re-claims the next version,
    * while a lost race that touched this merge's key space (a rewritten
    * affected file, or a new live file carrying a matched key) RESTARTS
    * the whole merge from the new head, because committing the stale
    * rewrite would resurrect replaced rows or leave a duplicate key.
    * Restart-then-reapply is what makes two racing merges serialize to
    * exactly the log order (TxnLogSpec races them; `q_txn_merge` pins the
    * deterministic stale-base replay).
    *
    * `changes` must be key-unique (standard MERGE precondition). Returns
    * (committedVersion, commitAttempts, restarts).
    *
    * 100 TB shape: reads touch (a) one pruned scan locating affected
    * files — at production scale the key→file check is a zone-map /
    * bloom metadata probe, here an `input_file_name()` semi-join — and
    * (b) only the affected files' rows for the rewrite; the change-set
    * side broadcasts. The collect moves FILE NAMES (the same kilobytes a
    * log entry holds), never rows. */
  def merge(spark: SparkSession, path: String, changes: DataFrame, key: String,
      maxRestarts: Int = 8): (Long, Int, Int) =
    mergeFrom(spark, path, changes, key, headVersion(path), maxRestarts)

  /** [[merge]] with an explicit (possibly stale) base version — the seam
    * the certificate uses to force a deterministic conflict replay. */
  private[graft] def mergeFrom(spark: SparkSession, path: String, changes: DataFrame,
      key: String, baseVersion: Long, maxRestarts: Int = 8): (Long, Int, Int) = {
    val keysDf = changes.select(col(key)).distinct()
    var attempts = 0
    var restarts = 0
    var base = baseVersion
    while (restarts <= maxRestarts) {
      val baseLive = liveFiles(path, base)
      val affected = read(spark, path, base)
        .withColumn("_file", input_file_name())
        .join(broadcast(keysDf), Seq(key), "left_semi")
        .select(col("_file")).distinct()
        .collect().map(r => toLocalPath(r.getString(0))).toSeq.sorted
      val survivors =
        if (affected.isEmpty) changes
        else spark.read.parquet(affected: _*)
          .join(broadcast(keysDf), Seq(key), "left_anti")
          .unionByName(changes)
      val newFiles = writeData(survivors, path, "merge", 1)
      var v = base + 1
      var restart = false
      while (!restart) {
        attempts += 1
        val headLive = liveFiles(path, v - 1)
        val newSinceBase = headLive.diff(baseLive)
        val foreignKeyHit = newSinceBase.nonEmpty &&
          !spark.read.parquet(newSinceBase: _*)
            .join(broadcast(keysDf), Seq(key), "left_semi").isEmpty
        if (!affected.forall(headLive.contains) || foreignKeyHit) {
          // conflict in this merge's key space: the stale rewrite is dead
          // (its files stay unreferenced until vacuum); recompute from head
          restarts += 1; restart = true; base = v - 1
        } else if (tryCommit(path, v, headLive.diff(affected) ++ newFiles)) {
          return (v, attempts, restarts)
        } else v = headVersion(path) + 1
      }
    }
    throw new IllegalStateException(
      s"merge starved after $maxRestarts restarts ($attempts commit attempts)")
  }

  /** All data files ever written under the table root (live or not). */
  def allDataFiles(path: String): Seq[String] = {
    val dataRoot = java.nio.file.Paths.get(path, "data").toFile
    if (!dataRoot.exists()) Seq.empty
    else dataRoot.listFiles().toSeq.flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
  }

  /** VACUUM: physically delete data files referenced by NO version ≥
    * `keepFromVersion`, then drop the older log entries — the retention
    * GC every table format schedules after rewrites (a compaction leaves
    * its replaced base files on disk so time travel keeps working; vacuum
    * is the moment that grace expires). Returns (removedFiles,
    * retainedFiles). Readers pinned at a retained version are unaffected
    * — exactly the Delta/Iceberg contract: vacuum shrinks HISTORY, never
    * the present.
    *
    * `graceMillis` protects IN-FLIGHT WRITERS: [[writeData]] lands data
    * files BEFORE [[tryCommit]] claims a version, so at the instant
    * vacuum scans, an unreferenced file may belong to a writer that is
    * about to commit — deleting it would let that writer commit a version
    * referencing dead files (a torn table). Files whose mtime is within
    * `graceMillis` of now are therefore NEVER deleted, regardless of
    * reference state; the window must exceed the longest write-to-commit
    * latency (Delta's equivalent knob defaults to 7 days). Pass 0 ONLY
    * when no writer is in flight — the single-process certificate tests
    * do, after joining every writer thread. */
  def vacuum(path: String, keepFromVersion: Long,
             graceMillis: Long = 15L * 60 * 1000): (Seq[String], Seq[String]) = {
    val head = headVersion(path)
    require(keepFromVersion >= 0 && keepFromVersion <= head,
      s"retention boundary v$keepFromVersion outside [0, v$head]")
    val retained = (keepFromVersion to head).flatMap(v => liveFiles(path, v)).distinct
    val cutoff = System.currentTimeMillis() - graceMillis
    val (inGrace, removable) = allDataFiles(path).diff(retained)
      .partition(f => new java.io.File(f).lastModified() >= cutoff)
    removable.foreach(f => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
    // the checkpoint hint must land INSIDE the surviving contiguous range
    // BEFORE any log entry below it dies, or a crash between the two steps
    // would leave head resolution probing from a deleted prefix
    advanceCheckpoint(path, keepFromVersion)
    (0L until keepFromVersion).foreach(v =>
      java.nio.file.Files.deleteIfExists(vFile(path, v)))
    (removable, (retained ++ inGrace).distinct)
  }
}
