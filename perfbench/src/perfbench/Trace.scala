package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing of a run from outside the engine, through public hooks only:
  *
  *  - a `SparkListener` keeps job, stage and task events;
  *  - a `QueryExecutionListener` keeps the `QueryPlanningTracker` phase times
  *    and the files read by each executed plan;
  *  - a log4j appender counts ERROR events.
  *
  * Every op runs under `setJobGroup(<op id>)`, so jobs (and through them
  * stages and tasks) are attributed to the op that launched them. Listener
  * events are only buffered here; they are folded into per-op figures after
  * the session has stopped, when the listener bus has drained. Plan events
  * and log events carry no job group: they go to the op whose job the bus saw
  * last, and to the op running at the time, respectively.
  */
final class Tracer(spark: SparkSession) extends OpRunner {
  import Tracer._

  @volatile private var currentOp: String = Unattributed
  @volatile private var busGroup: String = Unattributed

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val stagesRetried = new ConcurrentHashMap[String, AtomicLong]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val logErrors = new ConcurrentHashMap[String, AtomicLong]()
  private val logSamples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val spans = mutable.ArrayBuffer[Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(Unattributed)
      busGroup = group
      jobs.put(e.jobId, JobRec(group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      s.submissionTime.foreach(t => stageSubmit.put((s.stageId, s.attemptNumber()), t))
      if (s.attemptNumber() > 0) counter(stagesRetried, groupOfStage(s.stageId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val submit = Option(stageSubmit.get((e.stageId, e.stageAttemptId)))
        .getOrElse(info.launchTime)
      tasks.add(if (m == null) TaskRec(e.stageId, info.launchTime - submit, failed = true)
        else TaskRec(e.stageId, info.launchTime - submit, info.failed || info.killed,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val files = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      plans.add(PlanRec(busGroup, ms("analysis"), ms("optimization"), ms("planning"), files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val appender = new AbstractAppender("perfbench-errors", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
        counter(logErrors, currentOp)
        if (logSamples.size < 20)
          logSamples.add(s"$currentOp: ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
      }
  }

  private def groupOfStage(stage: Int): String =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).map(_.group)
      .getOrElse(Unattributed)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  /** Runs `body` as op `id`: its jobs are tagged with the id, its span is
    * kept, and the storage still cached when it returns is recorded. The
    * span's children are the phases `body` times through `phases`. */
  def op[T](id: String, name: String, module: String, pass: Int, phases: Phases)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    currentOp = id
    val t0 = System.currentTimeMillis()
    val n0 = Util.now()
    try body
    finally {
      val wall = Util.secs(n0, Util.now())
      val t1 = System.currentTimeMillis()
      currentOp = Unattributed
      sc.clearJobGroup()
      val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      spans += Span(id, name, module, pass, t0, t1, wall, phases.recorded.toSeq,
        cached.map(r => r.memSize + r.diskSize).sum, cached.length)
    }
  }

  /** Per-op figures, once the session has stopped. */
  def opStats(): Map[String, OpStats] = {
    val jobsByGroup = jobs.asScala.toSeq.groupBy(_._2.group)
    val tasksByGroup = tasks.asScala.toSeq.groupBy(t => groupOfStage(t.stage))
    val plansByGroup = plans.asScala.toSeq.groupBy(_.group)
    // stages that ran (first attempts); a job's skipped stages never submit
    val stagesByGroup = stageSubmit.keySet.asScala.toSeq.collect {
      case (st, 0) => groupOfStage(st) }.groupMapReduce(identity)(_ => 1)(_ + _)
    spans.map { s =>
      val js = jobsByGroup.getOrElse(s.id, Nil).map(_._2)
      val ts = tasksByGroup.getOrElse(s.id, Nil)
      val ps = plansByGroup.getOrElse(s.id, Nil)
      // time inside the op with no job running: the op interval minus the
      // union of its jobs' intervals
      val covered = js.map(j => (math.max(j.start, s.t0), math.min(if (j.end > 0) j.end else s.t1, s.t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (a >= reach) (acc + (b - a), b)
          else if (b > reach) (acc + (b - reach), b)
          else (acc, reach)
        }._1
      s.id -> OpStats(
        jobs = js.size, stages = stagesByGroup.getOrElse(s.id, 0), tasks = ts.size,
        driverGapS = math.max(0L, (s.t1 - s.t0) - covered) / 1000.0,
        taskWaitS = ts.map(_.waitMs).sum / 1000.0,
        tasksFailed = ts.count(_.failed),
        stagesRetried = Option(stagesRetried.get(s.id)).map(_.get).getOrElse(0L),
        logErrors = Option(logErrors.get(s.id)).map(_.get).getOrElse(0L),
        runS = ts.map(_.runMs).sum / 1000.0, cpuS = ts.map(_.cpuMs).sum / 1000.0,
        gcS = ts.map(_.gcMs).sum / 1000.0,
        shuffleRead = ts.map(_.shuffleRead).sum, shuffleWrite = ts.map(_.shuffleWrite).sum,
        spillMem = ts.map(_.spillMem).sum, spillDisk = ts.map(_.spillDisk).sum,
        inputBytes = ts.map(_.input).sum, outputBytes = ts.map(_.output).sum,
        analysisS = ps.map(_.analysisMs).sum / 1000.0,
        optimizationS = ps.map(_.optimizationMs).sum / 1000.0,
        planningS = ps.map(_.planningMs).sum / 1000.0, plans = ps.size,
        filesScanned = ps.map(_.files).sum,
        phaseJobs = s.phases.map { case (p, t0p, t1p, _) =>
          p -> js.count(j => j.start >= t0p && j.start <= t1p)
        }.groupMapReduce(_._1)(_._2)(_ + _))
    }.toMap
  }

  def spanList: Seq[Span] = spans.toSeq
  def errorSamples: Seq[String] = logSamples.asScala.toSeq
  def unattributedErrors: Long = Option(logErrors.get(Unattributed)).map(_.get).getOrElse(0L)
}

/** Runs one op; the untraced runner only times the op's phases. */
trait OpRunner {
  def op[T](id: String, name: String, module: String, pass: Int, phases: Tracer.Phases)(body: => T): T
}

object Untraced extends OpRunner {
  def op[T](id: String, name: String, module: String, pass: Int, phases: Tracer.Phases)(body: => T): T =
    body
}

object Tracer {
  val Unattributed = "-"

  private def counter(m: ConcurrentHashMap[String, AtomicLong], k: String): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()

  final case class JobRec(group: String, start: Long) { @volatile var end: Long = 0L }
  final case class TaskRec(stage: Int, waitMs: Long, failed: Boolean, runMs: Long = 0L,
      cpuMs: Long = 0L, gcMs: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
      spillMem: Long = 0L, spillDisk: Long = 0L, input: Long = 0L, output: Long = 0L)
  final case class PlanRec(group: String, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long)

  /** Child spans of an op: (name, start ms, end ms, seconds). */
  final class Phases {
    private[perfbench] val recorded = mutable.ArrayBuffer[(String, Long, Long, Double)]()
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis(); val n0 = Util.now()
      try body
      finally recorded += ((name, t0, System.currentTimeMillis(), Util.secs(n0, Util.now())))
    }
  }

  final case class Span(id: String, name: String, module: String, pass: Int, t0: Long,
      t1: Long, wallS: Double, phases: Seq[(String, Long, Long, Double)], cachedBytes: Long,
      cachedRdds: Int) {
    def toMap(stats: Option[OpStats]): Map[String, Any] = Map(
      "op" -> id, "name" -> name, "module" -> module, "pass" -> pass,
      "start_ms" -> t0, "end_ms" -> t1, "wall_s" -> wallS,
      "self_s" -> (wallS - phases.map(_._4).sum),
      "children" -> phases.map { case (p, a, b, s) =>
        Map("name" -> p, "start_ms" -> a, "end_ms" -> b, "s" -> s) },
      "storage_cached_bytes_after" -> cachedBytes, "storage_rdds_cached_after" -> cachedRdds,
      "stats" -> stats.map(_.productElementNames.zip(stats.get.productIterator).toMap).orNull)
  }

  final case class OpStats(jobs: Int, stages: Int, tasks: Int, driverGapS: Double,
      taskWaitS: Double, tasksFailed: Int, stagesRetried: Long, logErrors: Long,
      runS: Double, cpuS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
      spillMem: Long, spillDisk: Long, inputBytes: Long, outputBytes: Long,
      analysisS: Double, optimizationS: Double, planningS: Double, plans: Int,
      filesScanned: Long, phaseJobs: Map[String, Int])
}
