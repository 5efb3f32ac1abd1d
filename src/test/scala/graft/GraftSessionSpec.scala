package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ops.Relational
import graft.plans.TopKPerGroup
import graft.plans.TopKPerGroup.TopKPerGroupExec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.BareSession

class GraftSessionSpec extends SparkSpec {

  /** All suites share one JVM-wide session: create the canonical test
    * session FIRST (so its static confs — temp warehouse dir, no UI — win),
    * snapshot the runtime confs build() touches, and restore them so other
    * suites aren't order-dependent on this one. */
  private def withSharedConfRestored(body: => Unit): Unit = {
    val shared = SparkSpec.session
    val touched = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.files.maxPartitionBytes", "spark.sql.session.timeZone")
    val saved = touched.map(k => k -> shared.conf.getOption(k)).toMap
    try body
    finally saved.foreach {
      case (k, Some(v)) => shared.conf.set(k, v)
      case (k, None)    => shared.conf.unset(k)
    }
  }

  test("session factory applies scale confs and registers engine functions") {
    withSharedConfRestored {
      val s = GraftSession.build("local[4]", parallelism = 4, appName = "graft-test")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.files.maxPartitionBytes") == (256 * 1024 * 1024).toString)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      val r = s.sql(
        "SELECT cosine_sim(array(CAST(3 AS FLOAT)), array(CAST(7 AS FLOAT))) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      // master mismatch must refuse, not half-reconfigure
      val e = intercept[IllegalArgumentException] {
        GraftSession.build("local[2]", parallelism = 2)
      }
      assert(e.getMessage.contains("already exists"))
    }
  }

  test("a built session resolves every native function in SQL and plans TopKPerGroupExec") {
    withSharedConfRestored {
      val s = GraftSession.build("local[4]", parallelism = 4, appName = "graft-test")
      val r = s.sql(
        """SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
          |                  array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))) AS cos,
          |       char_entropy('aabb') AS ent,
          |       subtoken_count('abc123 x!') AS toks,
          |       jaro_winkler('MARTHA', 'MARHTA') AS jw""".stripMargin).collect()(0)
      assert(r.getDouble(0) == 0.0)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      assert(r.getInt(2) == 4) // "abc", "123", "x", "!"
      assert(math.abs(r.getDouble(3) - 0.9611) < 1e-4)
      val top = TopKPerGroup(
        s.range(100).select((col("id") % 5).as("g"), col("id").as("v")),
        Seq("g"), Seq(("v", true)), k = 2)
      assert(top.queryExecution.sparkPlan.collect { case e: TopKPerGroupExec => e }.nonEmpty,
        top.queryExecution.sparkPlan.toString)
      assert(top.filter(col("rn") === 1L).select("v").collect().map(_.getLong(0)).sorted
        .sameElements(95L to 99L))
    }
  }

  test("a built session compiles each generated class once, past Spark's 100-entry cache") {
    withSharedConfRestored {
      val s = GraftSession.build("local[4]", parallelism = 4, appName = "graft-test")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
        GraftSession.CodegenCacheEntries.toString)
      // 60 distinct shapes, two generated classes each: 120 classes, more
      // than Spark's default cache holds, so at that size the LRU evicts
      // every class before the second round reaches it
      def round(): Unit = (1 to 60).foreach { i =>
        s.range(8).selectExpr(s"id * $i + 7 AS x").collect()
      }
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round()
      val before = compiles
      round()
      assert(compiles == before, s"the second round recompiled ${compiles - before} classes")
    }
  }

  test("refuses an existing session that was built without the extensions") {
    val shared = SparkSpec.session
    SparkSession.setDefaultSession(BareSession.on(shared.sparkContext))
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSession.build("local[4]", parallelism = 4)
      }
      assert(e.getMessage.contains("GraftExtensions"))
    } finally SparkSession.setDefaultSession(shared)
  }

  test("a stopped session leaves no graft_sink_p<pid>_* directory behind") {
    // the shared session lives as long as this JVM, so the session under
    // test runs in a JVM of its own, with a tmpdir of its own
    val tmp = Files.createTempDirectory("sink_cleanup").toFile
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq(s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        StoppedSessionProbe.getClass.getName.stripSuffix("$"), sf)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor() == 0, out)
    assert(out.contains("sink dirs before stop: 1\n"), out)
    assert(out.contains("sink dirs after stop: 0\n"), out)
    assert(StoppedSessionProbe.sinkDirs(tmp, child.pid()).isEmpty, "left behind at exit")
    Relational.deleteTree(tmp)
  }

  test("events loader normalizes ts to TimestampType on the HARNESS data") {
    // Round-4 regression: the generator switched events.ts from
    // TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and a loader hard-wired to
    // the nanos encoding silently dropped 49 queries from the correctness
    // gate. Pin the contract — whatever encoding the harness ships, the
    // loader must yield a non-empty TimestampType column — on the real
    // files, not a fixture, so the NEXT encoding change fails here first.
    import org.apache.spark.sql.types.TimestampType
    val spark = SparkSpec.session
    for (sf <- Seq("0.001", "0.01")) {
      val dir = s"/root/testdata/sf$sf"
      if (new java.io.File(s"$dir/events.parquet").exists()) {
        val ev = Tables.events(spark, dir)
        assert(ev.schema("ts").dataType == TimestampType, s"sf$sf ts type")
        assert(ev.select("ts").filter("ts IS NOT NULL").limit(1).count() == 1L,
          s"sf$sf events readable")
      }
    }
    // Both legacy encodings still normalize: long nanos and NTZ micros.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val asNanos = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    val normNanos = Tables.normalizeTs(asNanos)
    assert(normNanos.schema("ts").dataType == TimestampType)
    // the in-range nanos value actually converts (guard lets it through)
    assert(normNanos.select("ts").filter("ts IS NOT NULL").count() == 1L)
    val asNtz = Seq((1L, "2024-01-01 10:00:00")).toDF("event_id", "s")
      .withColumn("ts", to_timestamp_ntz(col("s"))).drop("s")
    assert(Tables.normalizeTs(asNtz).schema("ts").dataType == TimestampType)
    // A LongType ts whose magnitude is NOT plausible nanos (here:
    // epoch-MICROS, the silent-drift case the round-4 incident warns
    // about) must fail LOUDLY at execution, not divide 1000x off.
    val asMicros = Seq((1L, 1700000000123456L)).toDF("event_id", "ts")
    val ex = intercept[Exception] {
      Tables.normalizeTs(asMicros).select("ts").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("epoch-nanos")),
      s"expected the plausibility guard to fire, got: $ex")
  }
}

/** The session under test of GraftSessionSpec's sink-cleanup test: builds a
  * session, runs a query that writes a sink, stops the session, and prints
  * how many sink directories of this JVM exist before and after the stop.
  * Usage: StoppedSessionProbe <data dir> */
object StoppedSessionProbe {
  def sinkDirs(tmp: File, pid: Long): Seq[File] =
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"graft_sink_p${pid}_"))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.buildLocal("2", "sink-cleanup")
    spark.sparkContext.setLogLevel("ERROR")
    Relational.qSinkPartitionPrune(spark, args(0)).collect()
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    println(s"sink dirs before stop: ${sinkDirs(tmp, pid).size}")
    spark.stop()
    println(s"sink dirs after stop: ${sinkDirs(tmp, pid).size}")
  }
}
