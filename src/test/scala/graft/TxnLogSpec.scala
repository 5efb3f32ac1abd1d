package graft

import graft.ops.TxnLog
import org.apache.spark.sql.functions._

/** The commit protocol behind q_txn_commit: put-if-absent versioning,
  * snapshot-pinned reads, revalidate-and-retry on race loss, and the
  * mandatory abort when a compaction's base files were replaced. */
class TxnLogSpec extends SparkSpec {

  private def evs = Tables.events(spark, sf)
    .select(col("event_id"), col("user_id"), col("event_type"))

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/tbl"

  test("append then stale-base compaction: retry commits, content invariant") {
    val path = freshPath("txn_race")
    val base = evs.filter(col("event_id") % 5 =!= 0)
    val batch = evs.filter(col("event_id") % 5 === 0)
    assert(TxnLog.init(base, path, nFiles = 4) == 0L)
    val (v1, a1) = TxnLog.append(batch, path)
    assert(v1 == 1L && a1 == 1)
    // B planned against v0 before A's commit; its first claim (v1) loses
    val (v2, a2) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    assert(v2 == 2L && a2 == 2, s"compaction must pay exactly one retry, got v$v2/$a2")
    // snapshot isolation: v2 content == v1 content, layout 5 -> 2 files
    assert(TxnLog.liveFiles(path, 1L).size == 5 && TxnLog.liveFiles(path, 2L).size == 2)
    val c1 = TxnLog.read(spark, path, 1L)
    val c2 = TxnLog.read(spark, path, 2L)
    assert(c2.count() == c1.count())
    assert(c2.exceptAll(c1).isEmpty && c1.exceptAll(c2).isEmpty)
    // time travel: v0 is exactly the pre-append table
    val c0 = TxnLog.read(spark, path, 0L)
    assert(c0.count() == base.count())
    assert(c0.exceptAll(base).isEmpty && base.exceptAll(c0).isEmpty)
  }

  test("a compaction whose base files were replaced must abort") {
    val path = freshPath("txn_abort")
    TxnLog.init(evs.filter(col("event_id") % 5 =!= 0), path, nFiles = 4)
    // first compaction of v0 wins and replaces the base files at v1
    val (v1, _) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    assert(v1 == 1L)
    // a second rewrite of the SAME stale v0 base must refuse to commit:
    // committing would resurrect the replaced files' data alongside v1's
    val e = intercept[IllegalArgumentException] {
      TxnLog.compactFrom(spark, path, baseVersion = 0L)
    }
    assert(e.getMessage.contains("conflict"))
    // and the failed writer changed nothing: head is still v1
    assert(TxnLog.headVersion(path) == 1L)
  }

  test("concurrent appends from two threads serialize without loss") {
    val path = freshPath("txn_threads")
    TxnLog.init(evs.filter(col("event_id") % 3 === 0), path, nFiles = 2)
    val b1 = evs.filter(col("event_id") % 3 === 1)
    val b2 = evs.filter(col("event_id") % 3 === 2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val threads = Seq(b1, b2).map(b => new Thread(() => {
      results.add(TxnLog.append(b, path))
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val committed = results.asScala.toSeq.map(_._1).sorted
    assert(committed == Seq(1L, 2L), s"appends must claim distinct versions: $committed")
    val head = TxnLog.read(spark, path, 2L)
    assert(head.count() == evs.count(), "no append may be lost or doubled")
  }

  test("two writers racing for one version: exactly one claims it") {
    val path = freshPath("txn_claim")
    val contested = (1L to 500L).count { v =>
      val wins = new java.util.concurrent.atomic.AtomicInteger()
      val start = new java.util.concurrent.CyclicBarrier(2)
      val writers = Seq("a", "b").map(w => new Thread(() => {
        start.await()
        if (TxnLog.tryCommit(path, v, Seq(s"$w$v"))) wins.incrementAndGet(): Unit
      }))
      writers.foreach(_.start()); writers.foreach(_.join())
      wins.get() != 1
    }
    assert(contested == 0, s"$contested of 500 versions were claimed by both writers or by neither")
  }

  test("vacuum deletes only superseded files; retained snapshots read intact") {
    val path = freshPath("txn_vacuum")
    TxnLog.init(evs.filter(col("event_id") % 5 =!= 0), path, nFiles = 4)
    TxnLog.append(evs.filter(col("event_id") % 5 === 0), path)
    val (head, _) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    assert(TxnLog.allDataFiles(path).size == 6)
    // keep v1 too: NOTHING dies — v1 still references the 4 init files
    // (retention must UNION the live sets of every retained version)
    val (removed1, retained1) = TxnLog.vacuum(path, keepFromVersion = 1L, graceMillis = 0L)
    assert(removed1.isEmpty && retained1.size == 6,
      s"got ${removed1.size} removed / ${retained1.size} retained")
    // v1 still reads completely after the vacuum
    assert(TxnLog.read(spark, path, 1L).count() == evs.count())
    // v0's log entry is gone: time travel below the boundary must fail
    intercept[Exception] { TxnLog.read(spark, path, 0L).count() }
    // tighten retention to the head: the 4 compacted-away base files die
    val (removed2, retained2) = TxnLog.vacuum(path, keepFromVersion = head, graceMillis = 0L)
    assert(removed2.size == 4 && retained2.size == 2)
    assert(TxnLog.read(spark, path, head).count() == evs.count())
    // boundary validation
    intercept[IllegalArgumentException] { TxnLog.vacuum(path, head + 1) }
  }

  test("merge rewrites ONLY the files containing matched keys; content = mergeByKey") {
    val path = freshPath("txn_merge")
    val base = evs.select(col("event_id"), col("user_id"))
    TxnLog.init(base, path, nFiles = 4)
    val live0 = TxnLog.liveFiles(path, 0L)
    // target exactly the keys of ONE live file: since keys are unique,
    // every other file is key-disjoint and must survive BY NAME
    val victim = live0.head
    val changes = spark.read.parquet(victim)
      .select(col("event_id"), (col("user_id") + 5000000L).as("user_id"))
    val (v1, att, rs) = TxnLog.merge(spark, path, changes, "event_id")
    assert(v1 == 1L && att == 1 && rs == 0)
    val live1 = TxnLog.liveFiles(path, 1L)
    assert(!live1.contains(victim), "the matched file must be rewritten out")
    assert(live0.filterNot(_ == victim).forall(live1.contains),
      "key-disjoint files must survive by name, not be rewritten")
    assert(live1.size == live0.size, "one file out, one merge file in")
    val want = graft.ops.Relational.mergeByKey(base, changes, "event_id")
    val got = TxnLog.read(spark, path, 1L)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "merged table must equal the library MERGE of the same change set")
  }

  test("racing merges over overlapping keys serialize to exactly the log order") {
    val path = freshPath("txn_merge_race")
    val base = evs.select(col("event_id"), col("user_id"))
    TxnLog.init(base, path, nFiles = 3)
    val m1 = base.filter(col("event_id") % 4 === 0).withColumn("user_id", lit(111L))
    val m2 = base.filter(col("event_id") % 6 === 0).withColumn("user_id", lit(222L))
    val results = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val threads = Seq(("m1", m1), ("m2", m2)).map { case (tag, ch) =>
      new Thread(() => {
        val (v, _, _) = TxnLog.merge(spark, path, ch, "event_id")
        results.put(tag, v)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.size == 2, "both merges must eventually commit")
    assert(Set(results.get("m1"), results.get("m2")) == Set(1L, 2L),
      s"merges must claim distinct consecutive versions, got $results")
    // expected = the merges applied in COMMIT order (whoever holds v1 first)
    val inOrder = Seq(("m1", results.get("m1")), ("m2", results.get("m2")))
      .sortBy(_._2).map { case (tag, _) => if (tag == "m1") m1 else m2 }
    val want = inOrder.foldLeft(base)((acc, ch) =>
      graft.ops.Relational.mergeByKey(acc, ch, "event_id"))
    val got = TxnLog.read(spark, path, 2L)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "final state must equal applying the merges in log order — " +
        "overlapping %12 keys carry the LATER merge's value")
  }

  test("appendOnce: a replayed (app, batch) pair commits exactly once") {
    val path = freshPath("txn_once")
    val b0 = evs.filter(col("event_id") % 2 === 0)
    val b1 = evs.filter(col("event_id") % 2 =!= 0)
    val (v0, fresh0) = TxnLog.appendOnce(b0, path, "ingestA", 0L)
    assert(v0 == 0L && fresh0, "first batch creates the table at v0")
    val (v1, fresh1) = TxnLog.appendOnce(b1, path, "ingestA", 1L)
    assert(v1 == 1L && fresh1)
    // the at-least-once replay: same app, same batch id, same data
    val (vr, freshR) = TxnLog.appendOnce(b0, path, "ingestA", 0L)
    assert(vr == -1L && !freshR, "replayed batch must be detected and skipped")
    assert(TxnLog.headVersion(path) == 1L, "a skip commits nothing")
    assert(TxnLog.read(spark, path, 1L).count() == evs.count(),
      "table holds each batch exactly once")
    // a DIFFERENT app replaying batch id 0 is a distinct transaction
    val (v2, fresh2) = TxnLog.appendOnce(b0, path, "ingestB", 0L)
    assert(v2 == 2L && fresh2, "idempotence is scoped per appId")
    assert(TxnLog.committedBatches(path, "ingestA") == Set(0L, 1L))
    assert(TxnLog.committedBatches(path, "ingestB") == Set(0L))
  }

  test("checkpointed head resolution probes the tail, not the whole log") {
    val path = freshPath("txn_ckpt")
    val one = evs.select(col("event_id"), col("user_id")).limit(5)
    TxnLog.init(one, path, nFiles = 1) // v0: checkpoint written (0 % 8 == 0)
    (1 to 10).foreach(_ => TxnLog.append(one, path)) // v1..v10; ckpt at v8
    val (head, probes) = TxnLog.resolveHead(path)
    assert(head == 10L)
    assert(probes <= TxnLog.CheckpointInterval.toInt + 1,
      s"resolution must replay at most the tail past the checkpoint, probed $probes")
    // vacuum drops log entries BELOW the boundary; the checkpoint hint must
    // move inside the surviving range or head resolution would see a hole
    TxnLog.vacuum(path, keepFromVersion = 9L, graceMillis = 0L)
    val (head2, probes2) = TxnLog.resolveHead(path)
    assert(head2 == 10L, "head must survive a vacuum that drops the checkpointed prefix")
    assert(probes2 <= 3, s"post-vacuum resolution probes from the boundary, probed $probes2")
    assert(TxnLog.read(spark, path, 10L).count() == one.count() * 11)
  }

  test("vacuum grace window shields an in-flight writer's landed-not-committed files") {
    val path = freshPath("txn_grace")
    TxnLog.init(evs.filter(col("event_id") % 5 =!= 0), path, nFiles = 2)
    val (head, _) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    // simulate a writer mid-flight: data landed under the table root but
    // no version references it yet (exactly writeData-before-tryCommit)
    val inflight = java.nio.file.Paths.get(path, "data", "append_inflight_1")
    java.nio.file.Files.createDirectories(inflight)
    val part = inflight.resolve("part-00000.parquet")
    java.nio.file.Files.writeString(part, "pending")
    // default grace: the fresh unreferenced file survives even though the
    // 2 compacted-away init files (also unreferenced, also fresh) would
    // normally go — grace is reference-state-blind by design
    val (removedNow, retainedNow) = TxnLog.vacuum(path, keepFromVersion = head)
    assert(removedNow.isEmpty, s"grace must shield fresh files, removed $removedNow")
    assert(retainedNow.contains(part.toString))
    assert(java.nio.file.Files.exists(part))
    // once the file ages past the window it is a true orphan and dies
    assert(part.toFile.setLastModified(System.currentTimeMillis() - 3600_000L))
    val (removedOld, _) = TxnLog.vacuum(path, keepFromVersion = head)
    assert(removedOld == Seq(part.toString),
      s"aged orphan must be collected alone (init files aged too? $removedOld)")
    assert(!java.nio.file.Files.exists(part))
  }

  test("change feed: append transition = exactly the batch, compaction = empty") {
    val got = graft.ops.Relational.qChangeFeed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val batch = Tables.events(spark, sf).filter(col("event_id") % 3 === 0)
      .select(col("event_type"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val perType = batch.groupBy(_._1).toSeq.map { case (et, xs) =>
      (0L, 1L, "append", et, xs.length.toLong, 0L, xs.map(_._2).sum, 0L)
    }
    val want = (perType :+
      (0L, 1L, "append", "*", batch.length.toLong, 0L, batch.map(_._2).sum, 0L) :+
      (1L, 2L, "compact", "*", 0L, 0L, 0L, 0L)).sortBy(t => (t._1, t._4))
    assert(got == want, "CDF must be derived from commit churn exactly")
  }

  test("q_txn_commit census keeps every version on a path with a space and a %") {
    // input_file_name() percent-encodes the path (" " -> %20, "%" -> %25);
    // a census that matched it against the log's plain paths by string
    // would silently drop every row of every version
    val path = freshPath("txn 100% census")
    val census = graft.ops.Relational.txnCommitCensus(spark, sf, path).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).toSeq
    val pinned = (0L to 2L).map { v =>
      val r = TxnLog.read(spark, path, v)
        .agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L))).head()
      (v, r.getLong(0), r.getLong(1))
    }
    assert(pinned.forall(_._2 > 0L))
    assert(census == pinned, s"census $census must equal the pinned reads $pinned")
  }

  test("q_txn_commit census keeps a version whose live files hold no rows") {
    // every event_id of this fixture is a multiple of 5, so v0 (the rows
    // with event_id % 5 <> 0) is empty and v1's append carries them all
    val dir = java.nio.file.Files.createTempDirectory("txn_empty_v0").toString
    spark.read.parquet(s"$sf/events.parquet").filter(col("event_id") % 5 === 0)
      .write.parquet(s"$dir/events.parquet")
    val all = Tables.events(spark, dir).agg(count(lit(1)), sum(col("event_id"))).head()
    val (n, chk) = (all.getLong(0), all.getLong(1))
    assert(n > 0L)
    val census = graft.ops.Relational.txnCommitCensus(spark, dir, freshPath("txn_empty_v0"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5))).toSeq
    assert(census == Seq((0L, "init", 0L, 0L), (1L, "append", n, chk), (2L, "compact", n, chk)),
      s"census $census")
  }
}
