package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: build the session, run an untimed pass that
  * checks every answer (and warms the JIT), then `--passes` timed passes,
  * closed loop with one client. Writes `result.json` (and `spans.json` when traced) into
  * `--run-dir`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --passes <n> --trace <0|1>
  *   --cores <n> --run-dir <dir> [--data <suite data dir>]
  *   [--input <covid input dir> --check-input <smaller covid input dir>]
  *   [--expected <fingerprints.json>]
  */
object Main {
  val CheckPass = 0
  val CheckQueryRounds = 3

  final case class OpSample(pass: Int, op: String, module: String, wallS: Double,
      phases: Map[String, Double], latency: Boolean, error: Option[String]) {
    def toMap: Map[String, Any] = Map("pass" -> pass, "op" -> op, "module" -> module,
      "wall_s" -> wallS, "phases" -> phases, "latency" -> latency, "ok" -> error.isEmpty,
      "error" -> error.orNull)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)

  def main(args: Array[String]): Unit = {
    val o = Util.options(args)
    val workload = o("workload")
    val seed = o("seed").toLong
    val passes = o("passes").toInt
    val trace = o("trace") == "1"
    val cores = o("cores")
    val runDir = new File(o("run-dir")).getAbsoluteFile

    val t0 = Util.now()
    val spark = GraftSession.buildLocal(cores, "perfbench", extraConf = Map(
      "spark.local.dir" -> new File(runDir, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(runDir, "warehouse").getPath))
    val sessionBuildS = Util.secs(t0, Util.now())
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val runner: OpRunner = tracer.getOrElse(Untraced)

    val samples = mutable.ArrayBuffer[OpSample]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val extra = mutable.LinkedHashMap[String, Any]()

    def timedOp(pass: Int, name: String, module: String, latency: Boolean)(
        body: Tracer.Phases => Option[String]): Unit = {
      val ph = new Tracer.Phases
      val n0 = Util.now()
      val err = try runner.op(s"p$pass:$name", name, module, pass, ph)(body(ph))
        catch { case e: Throwable => Some(message(e)) }
      samples += OpSample(pass, name, module, Util.secs(n0, Util.now()),
        ph.recorded.groupMapReduce(_._1)(_._4)(_ + _), latency, err)
    }

    val runPass: Int => Unit = workload match {
      case "covid_etl" =>
        // the check pass runs on a smaller input of the same shape: it loads
        // the same code and checks the same answers at a fraction of the cost
        val small = new CovidEtl(spark, new File(o("check-input")), new File(runDir, "lake-check"))
        val full = new CovidEtl(spark, new File(o("input")), new File(runDir, "lake"))
        extra("rows_in") = full.rowsIn
        extra("input_bytes") = full.inputBytes
        val loadWalls = mutable.ArrayBuffer[Double]()
        pass => {
          val etl = if (pass == CheckPass) small else full
          val l0 = Util.now()
          timedOp(pass, "covid_task", "etl", latency = false) { ph =>
            val (obs, check) = etl.covidTask(ph)
            extra ++= obs
            check
          }
          timedOp(pass, "municipios_task", "etl", latency = false)(etl.municipiosTask)
          if (pass > 0) loadWalls += Util.secs(l0, Util.now())
          extra("load_wall_s") = loadWalls.toSeq
          // the check pass repeats the queries: each is well under a second,
          // and after two runs their latency still varied by a quarter
          // between JVMs
          val rounds = if (pass == CheckPass) CheckQueryRounds else 1
          for (_ <- 1 to rounds; (name, sql, check) <- etl.queries) {
            var rows: Seq[org.apache.spark.sql.Row] = Nil
            timedOp(pass, name, "lake", latency = true) { ph =>
              val df = ph("build")(spark.sql(sql))
              rows = ph("execute")(df.collect().toSeq)
              None
            }
            // the answer is checked after the op's clock has stopped
            val last = samples.last
            if (last.error.isEmpty) {
              val wrong = try check(rows) catch { case e: Throwable => Some(message(e)) }
              wrong.foreach(e => samples(samples.size - 1) = last.copy(error = Some(s"wrong answer: $e")))
            }
          }
          val (bytes, files) = etl.lakeFiles
          extra("lake_bytes") = bytes
          extra("lake_files") = files
        }
      case "suite_plan" | "suite_materialize" =>
        val data = o("data")
        val expected = Util.readJson(new File(o("expected")))
        val keys = Suites.keys(workload)
        pass => {
          val order = new Random(seed * 1000003L + pass).shuffle(keys)
          order.foreach { key =>
            val fn = Suites.query(key)
            val module = Suites.moduleOf(key)
            if (pass == CheckPass) {
              // the correctness check, untimed; the result is first written
              // the way a timed op writes it, which warms that path too
              val result = try {
                val df = fn(spark, data)
                df.write.format("noop").mode("overwrite").save()
                val got = Suites.fingerprint(df, Suites.CountOnly.contains(key))
                val want = Option(expected.get(key))
                  .map(Util.json.convertValue(_, classOf[Map[String, Any]]))
                val ok = want.exists(w => w.forall { case (k, v) => got.get(k).map(_.toString)
                  .contains(v.toString) })
                Map("op" -> key, "ok" -> ok, "got" -> got, "want" -> want.orNull)
              } catch { case e: Throwable => Map("op" -> key, "ok" -> false, "error" -> message(e)) }
              checks += result
            } else {
              timedOp(pass, key, module, latency = true) { ph =>
                val df = ph("build")(fn(spark, data))
                ph("execute")(df.write.format("noop").mode("overwrite").save())
                None
              }
            }
          }
        }
    }

    val c0 = Util.now()
    runPass(CheckPass)
    val checkS = Util.secs(c0, Util.now())
    // let the ContextCleaner release what the untimed pass left behind
    System.gc()
    val setupS = Util.secs(t0, Util.now())
    var jvmGcS = 0.0
    for (p <- 1 to passes) {
      // every timed pass starts from the same collected heap, outside its clock
      if (p > 1) System.gc()
      val gc0 = gcSeconds()
      val p0 = Util.now()
      runPass(p)
      passWalls += Util.secs(p0, Util.now())
      jvmGcS += gcSeconds() - gc0
    }
    tracer.foreach(_.detach())
    spark.stop()

    // a key whose check failed, or that failed untimed, counts as failed in
    // every pass
    val untimedErrors = samples.filter(s => s.pass == CheckPass && s.error.nonEmpty)
    val wrong = checks.filter(_("ok") == false).map(_("op").toString).toSet ++
      untimedErrors.map(_.op)
    val timed = samples.filter(_.pass > 0).map(s =>
      if (wrong(s.op) && s.error.isEmpty) s.copy(error = Some("failed its correctness check"))
      else s)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores.toInt,
      "passes" -> passes, "session_build_s" -> sessionBuildS, "check_pass_s" -> checkS,
      "setup_s" -> setupS,
      "pass_walls" -> passWalls.toSeq, "jvm_gc_s" -> jvmGcS,
      "ops" -> timed.map(_.toMap).toSeq,
      "untimed_errors" -> untimedErrors.map(_.toMap).toSeq,
      "checks" -> checks.toSeq)
    result ++= extra
    tracer.foreach { tr =>
      val stats = tr.opStats()
      result("layers") = Layers.compute(workload, cores.toInt, passes, sessionBuildS, jvmGcS,
        timed.toSeq, tr.spanList, stats, extra.toMap)
      result("log_error_samples") = tr.errorSamples
      result("unattributed_log_errors") = tr.unattributedErrors
      Util.writeJson(new File(runDir, "spans.json"),
        tr.spanList.map(s => s.toMap(stats.get(s.id))))
    }
    Util.writeJson(new File(runDir, "result.json"), result)
  }
}
