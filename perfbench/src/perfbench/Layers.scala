package perfbench

import Tracer.{OpStats, Span}

/** Per-layer metrics of a traced run, as means per timed pass (counts and
  * byte totals per pass; `storage.*` per op). A layer a workload does not
  * exercise reports 0. */
object Layers {

  /** Modules whose keys the suites run, for `ops.<Module>.wall_s`. */
  val Modules: Seq[String] = Seq("Joins", "Aggregations", "Windows", "SetOps", "Functions",
    "Reshape", "EventAnalytics", "StreamingShaped", "FeaturePrep", "Graph", "Relational",
    "Dedup", "Similarity")

  def compute(workload: String, cores: Int, passes: Int, sessionBuildS: Double,
      jvmGcS: Double, ops: Seq[Main.OpSample], spans: Seq[Span], stats: Map[String, OpStats],
      extra: Map[String, Any]): Map[String, Double] = {
    val timedIds = spans.filter(_.pass > 0).map(_.id).toSet
    val st = stats.filter { case (id, _) => timedIds(id) }.values.toSeq
    val timedSpans = spans.filter(_.pass > 0)
    val n = passes.toDouble
    def perPass(xs: Iterable[Double]): Double = xs.sum / n
    def phase(op: String => Boolean, p: String): Double =
      perPass(ops.filter(s => op(s.op)).map(_.phases.getOrElse(p, 0.0)))
    def phaseJobs(op: String => Boolean, p: String): Double =
      perPass(stats.collect { case (id, s) if timedIds(id) && op(id.dropWhile(_ != ':').drop(1)) =>
        s.phaseJobs.getOrElse(p, 0).toDouble })
    def num(k: String): Double = extra.get(k).map(_.toString.toDouble).getOrElse(0.0)
    val isCovid = workload == "covid_etl"
    val suiteOp: String => Boolean = _ => !isCovid
    val queryIds = ops.filter(_.module == "lake").map(s => s"p${s.pass}:${s.op}").toSet
    val queryStats = stats.collect { case (id, s) if queryIds(id) => s }
    val loadWalls = extra.get("load_wall_s").map(_.asInstanceOf[Seq[Double]]).getOrElse(Nil)
    val medianLoad = if (loadWalls.isEmpty) 0.0 else loadWalls.sorted.apply(loadWalls.size / 2)
    val opWall = ops.map(_.wallS).sum

    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "session.build_s" -> sessionBuildS,
      "etl.read_csv_s" -> phase(_ == "covid_task", "read_csv"),
      "etl.read_csv_jobs" -> phaseJobs(_ == "covid_task", "read_csv"),
      "etl.read_json_s" -> phase(_ == "municipios_task", "read_json"),
      "etl.transform_s" -> phase(o => o == "covid_task" || o == "municipios_task", "transform"),
      "etl.load_covid_s" -> phase(_ == "covid_task", "load"),
      "etl.load_municipios_s" -> phase(_ == "municipios_task", "load"),
      "etl.bytes_written" -> num("lake_bytes"),
      "etl.files_written" -> num("lake_files"),
      "etl.rows_loaded" -> num("rows_loaded"),
      "etl.rows_dropped_null_key" -> num("rows_dropped_null_key"),
      "ingest_rows_per_s" -> (if (medianLoad > 0) num("rows_in") / medianLoad else 0.0),
      "lake_bytes_per_input_byte" ->
        (if (num("input_bytes") > 0) num("lake_bytes") / num("input_bytes") else 0.0),
      "lake.query_s" -> perPass(ops.filter(_.module == "lake").map(_.wallS)),
      "lake.bytes_scanned" -> perPass(queryStats.map(_.inputBytes.toDouble)),
      "lake.files_scanned" -> perPass(queryStats.map(_.filesScanned.toDouble)),
      "ops.build_s" -> phase(suiteOp, "build"),
      "ops.build_jobs" -> phaseJobs(suiteOp, "build"),
      "ops.execute_s" -> phase(suiteOp, "execute"),
      "ops.execute_jobs" -> phaseJobs(suiteOp, "execute"))
    Modules.foreach { mod =>
      m(s"ops.$mod.wall_s") = perPass(ops.filter(_.module == mod).map(_.wallS))
    }
    m ++= Seq(
      "catalyst.analysis_s" -> perPass(st.map(_.analysisS)),
      "catalyst.optimization_s" -> perPass(st.map(_.optimizationS)),
      "catalyst.planning_s" -> perPass(st.map(_.planningS)),
      "catalyst.plans" -> perPass(st.map(_.plans.toDouble)),
      "sched.jobs" -> perPass(st.map(_.jobs.toDouble)),
      "sched.stages" -> perPass(st.map(_.stages.toDouble)),
      "sched.tasks" -> perPass(st.map(_.tasks.toDouble)),
      "sched.driver_gap_s" -> perPass(st.map(_.driverGapS)),
      "sched.task_wait_s" -> perPass(st.map(_.taskWaitS)),
      "sched.core_util" -> (if (opWall > 0) st.map(_.runS).sum / (cores * opWall) else 0.0),
      "sched.tasks_failed" -> perPass(st.map(_.tasksFailed.toDouble)),
      "sched.stages_retried" -> perPass(st.map(_.stagesRetried.toDouble)),
      "sched.log_errors" -> perPass(st.map(_.logErrors.toDouble)),
      "exec.run_s" -> perPass(st.map(_.runS)),
      "exec.cpu_s" -> perPass(st.map(_.cpuS)),
      "exec.gc_s" -> perPass(st.map(_.gcS)),
      "exec.shuffle_read_bytes" -> perPass(st.map(_.shuffleRead.toDouble)),
      "exec.shuffle_write_bytes" -> perPass(st.map(_.shuffleWrite.toDouble)),
      "exec.spill_mem_bytes" -> perPass(st.map(_.spillMem.toDouble)),
      "exec.spill_disk_bytes" -> perPass(st.map(_.spillDisk.toDouble)),
      "exec.input_bytes" -> perPass(st.map(_.inputBytes.toDouble)),
      "exec.output_bytes" -> perPass(st.map(_.outputBytes.toDouble)),
      "storage.cached_bytes_after_op" ->
        (if (timedSpans.isEmpty) 0.0 else timedSpans.map(_.cachedBytes.toDouble).sum / timedSpans.size),
      "storage.rdds_cached_after_op" ->
        (if (timedSpans.isEmpty) 0.0 else timedSpans.map(_.cachedRdds.toDouble).sum / timedSpans.size),
      "jvm.gc_s" -> jvmGcS / n)
    m.toMap
  }
}
