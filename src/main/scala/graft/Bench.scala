package graft
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Headline benchmark. Stdout contract (driver-parsed): ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{"name":sec,…},
  * "sf":…,"total_sec":N,"n":…,"n_errors":…,"errors":[…≤8…]}` — the FULL
  * per-query map, printed as the ABSOLUTE LAST stdout act (after
  * spark.stop(), log level ERROR, flushed). Line length is not what
  * breaks the parse: a totals-only line of under 200 bytes parsed null
  * too. Under sbt, LoggedOutput prefixes the line with "[info] " (not
  * valid JSON) and the "[success] Total time…" banner lands after it, so
  * build.sbt passes forked stdout through verbatim (StdoutOutput) and
  * suppresses the banner (showSuccess := false). Every per-query number
  * (both timing samples, GC-time and codegen-compile deltas, JVM
  * counters, the optional concurrent pass) ALSO goes to
  * `bench_full.json` plus a core-count-stamped copy
  * (`bench_full_c<cpus>.json`), so the driver's 8-core rerun can no
  * longer clobber its 32-core per-query data.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS (local[N] +
  * shuffle partitions), SPARK_GRAFT_BENCH_THREADS (>1 enables the
  * concurrent pass: operator families submitted from that many driver
  * threads, each in its own FAIR scheduler pool — the shape a real lake
  * driver uses, cf. the reference's two independent Airflow tasks),
  * SPARK_GRAFT_BENCH_ONLY (comma-separated key filter for spot-benching
  * a subset — e.g. the sf0.5 scaling probe; a filtered run writes its
  * artifact to `bench_only.json`, never touching the driver-graded
  * `bench_full.json`), SPARK_GRAFT_BENCH_OUT (a durable extra copy of the
  * full artifact, concurrent pass included).
  */
object Bench {

  /** Sum of collection time across all GC beans, ms. Deltas around a query
    * attribute shared-JVM drift to GC rather than to the query's plan. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Classes Janino has compiled in this JVM so far (Spark's own
    * `CodegenMetrics` counter; local[N] runs driver and tasks in one JVM).
    * The delta around a key counts the generated classes it recompiled. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def jsonNum(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else f"$d%.4f"

  /** The contract line's "sf" value: the numeric scale factor when the dir
    * name ends in one (sf0.1 → 0.1), else the dir as a JSON string. */
  private[graft] def sfField(sfDir: String): String =
    "sf([0-9]+(\\.[0-9]+)?)/*$".r.findFirstMatchIn(sfDir).map(_.group(1))
      .getOrElse("\"" + sfDir.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")

  /** One key's timed samples and what they cost besides time. */
  private[graft] final case class Sample(name: String, t1: Double, t2: Double,
      gcMs: Long, compiles: Long) {
    def min: Double = if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2)
    /** The key's entry in bench_full.json's "queries" map. */
    def json: String =
      s""""$name":{"t1":${jsonNum(t1)},"t2":${jsonNum(t2)},"min":${jsonNum(min)},""" +
        s""""gc_ms":$gcMs,"codegen_compiles":$compiles}"""
  }

  /** Time `run` TWICE; the key reports the MIN: on a shared box a single
    * sample randomly absorbs neighbor GC/JIT churn (observed 7.9 s vs 0.8 s
    * steady state for the same query in one run); min-of-two is the
    * standard steady-state estimator and applies identically to every
    * query and every round. A query that throws reports -1 (never its
    * meaningless elapsed time) and lands in "errors" — a silently broken
    * query must not skew the total or read as a measurement. GC time and
    * codegen compiles are deltas over both samples. */
  private[graft] def sample(name: String)(run: => Unit): Sample = {
    def timed(): Double = {
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }
    val g0 = gcMillis()
    val c0 = codegenCompiles()
    try { val a = timed(); val b = timed()
      Sample(name, a, b, gcMillis() - g0, codegenCompiles() - c0) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name: $e")
      Sample(name, -1.0, -1.0, gcMillis() - g0, codegenCompiles() - c0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val benchThreads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "1").toInt
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val selected = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val spark = GraftSession.buildLocal(cpus, "graft-bench",
      extraConf = Map("spark.scheduler.mode" -> "FAIR"))
    // ERROR, not WARN: the driver's stdout capture is a bounded tail, and
    // benign per-query WARNs (WindowExec on audited vocabulary-bounded
    // frames, see SURVEY §6.4) flood the tail with thousands of
    // lines. The contract line must be the last thing stdout sees.
    spark.sparkContext.setLogLevel("ERROR")
    // noop sink: forces full evaluation of every column (count() would let
    // Catalyst prune the whole projection and measure only the scan). The
    // key's checkpoints are released as soon as its write returns.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      Materialize.scoped(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    // One untimed warmup pass: JIT + codegen compilation + parquet footer
    // caching otherwise lands entirely on whichever query happens to run
    // first and dominates its wall time 3-10x over steady state. It warms
    // codegen only because the session's codegen cache holds the whole
    // suite's working set (GraftSession.CodegenCacheEntries); were it
    // smaller, the LRU would evict each key's classes before its timed
    // samples, and `codegen_compiles` in bench_full.json would show it.
    selected.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // Timed pass in SORTED key order: Map iteration order shifts whenever a
    // key is added, which would silently reorder which query absorbs any
    // residual warm-up settling and make per-query times incomparable
    // across rounds.
    val ordered = selected.toSeq.sortBy(_._1)
    val results = ordered.map { case (name, fn) => sample(name)(run(fn)) }
    // Optional concurrent pass: families submitted from N driver threads,
    // each thread in its own FAIR pool. Wall-clock for the whole pass plus
    // per-family wall — interference shows as family wall >> its
    // sequential sum; speedup shows as pass wall << total.
    val concurrent: Option[(Double, Seq[(String, Double)])] =
      if (benchThreads <= 1) None
      else {
        // LPT (longest-processing-time-first) dispatch: the alphabetical
        // queue started the 46 s Graph family 9th of 19, pushing the pass
        // wall to 160 s against a ~100 s critical-path bound (measured this
        // round). The sequential pass just measured every key, so order
        // families by their measured time-sum descending — the classic
        // makespan heuristic, deterministic because ties break by name.
        val seqSum: Map[String, Double] = {
          val byName = results.map(s => s.name -> math.max(s.min, 0.0)).toMap
          SparkEntry.queryFamilies.map { case (f, qs) =>
            f -> qs.keysIterator.map(byName.getOrElse(_, 0.0)).sum
          }
        }
        val families = SparkEntry.queryFamilies.toSeq
          .sortBy { case (name, _) => (-seqSum(name), name) }
        val famTimes = new java.util.concurrent.ConcurrentHashMap[String, Double]()
        val queue = new java.util.concurrent.ConcurrentLinkedQueue[
          (String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])]()
        families.foreach(queue.add)
        val t0 = System.nanoTime()
        val threads = (1 to benchThreads).map { i =>
          new Thread(() => {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench-pool-$i")
            var fam = queue.poll()
            while (fam != null) {
              val f0 = System.nanoTime()
              fam._2.toSeq.sortBy(_._1).foreach { case (_, fn) =>
                try run(fn) catch { case _: Throwable => () }
              }
              famTimes.put(fam._1, (System.nanoTime() - f0) / 1e9)
              fam = queue.poll()
            }
          }, s"bench-$i")
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val wall = (System.nanoTime() - t0) / 1e9
        import scala.jdk.CollectionConverters._
        Some((wall, famTimes.asScala.toSeq.sortBy(_._1)))
      }
    val errors = results.collect { case s if s.min < 0 => "\"" + s.name + "\"" }
      .take(8).mkString("[", ",", "]")
    val nErrors = results.count(_.min < 0)
    val total = results.map(_.min).filter(_ >= 0).sum
    // Full artifact: every sample, GC attribution, JVM shape, concurrency.
    val rt = Runtime.getRuntime
    val fullQueries = results.map(_.json).mkString("{", ",", "}")
    val concJson = concurrent match {
      case None => "null"
      case Some((wall, fams)) =>
        val f = fams.map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString("{", ",", "}")
        s"""{"threads":$benchThreads,"wall_sec":${jsonNum(wall)},"families":$f}"""
    }
    val full =
      s"""{"sf":"$sfDir","cpus":$cpus,"total_sec":${jsonNum(total)},
         |"queries":$fullQueries,
         |"errors":$errors,
         |"jvm":{"max_heap_bytes":${rt.maxMemory()},"gc_total_ms":${gcMillis()},
         |"available_processors":${rt.availableProcessors()}},
         |"concurrent":$concJson}""".stripMargin
    Files.writeString(
      Paths.get(if (only.isEmpty) "bench_full.json" else "bench_only.json"), full)
    // Core-count-stamped copy (full runs only): the driver benches the same
    // tree at 32 and then 8 cores, and the second run used to overwrite the
    // first's per-query data in bench_full.json. SPARK_GRAFT_BENCH_OUT
    // additionally names an arbitrary durable path (baseline/final copies)
    // the driver never touches.
    if (only.isEmpty)
      Files.writeString(Paths.get(s"bench_full_c$cpus.json"), full)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      Files.writeString(Paths.get(out), full)
    }
    // Contract line LAST: stop Spark first so no shutdown log can land
    // after the JSON, then print and flush. "queries" is the per-query map
    // (min-of-two seconds, ms precision; a failed query reports -1 and is
    // named in "errors") — the driver's differ and scaling table read it.
    spark.stop()
    val qmap = results
      .map(s => s""""${s.name}":${f"${s.min}%.3f"}""").mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qmap,"sf":${sfField(sfDir)},"total_sec":${f"$total%.3f"},"n":${results.size},"n_errors":$nErrors,"errors":$errors}""")
    System.out.flush()
  }
}
