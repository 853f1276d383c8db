package perfbench

/** Per-layer numbers of one traced iteration, named `<layer>.<metric>`.
  *
  * A job belongs to the op phase whose job group it carries; a job
  * submitted under another group (the engine sets its own in
  * `Jobs.boundedTraverse`) belongs to the phase running when it started.
  * Module attribution reads the call site Spark gives each stage: schema
  * inference reads as "parquet at Tables.scala:N", a checkpoint as
  * "localCheckpoint at ...".
  */
object Layers {

  private final case class Window(op: String, phase: String, ms0: Long, ms1: Long)

  def of(runs: Seq[Main.OpRun], t: Tracer, cpus: Int): Map[String, Double] = {
    val windows = runs.flatMap(r => Seq(
      Window(r.op.name, "construct", r.ms0, r.ms1),
      Window(r.op.name, "action", r.ms1, r.ms2)))
    def windowOf(j: JobRec): Option[Window] = j.group.split(":", 3) match {
      case Array("perfbench", op, phase) =>
        windows.find(w => w.op == op && w.phase == phase)
      case _ => windows.find(w => j.startMs >= w.ms0 && j.startMs <= w.ms1)
    }
    val jobs = t.jobRecords.map(j => j -> windowOf(j))
    def jobsIn(p: Window => Boolean): Double = jobs.count(_._2.exists(p)).toDouble
    def seconds(js: Seq[JobRec]): Double = js.map(j => j.endMs - j.startMs).sum / 1e3

    val infer = t.jobRecords.filter(_.stages.exists(_.contains("at Tables.scala:")))
    val checkpoints = t.jobRecords.filter(_.stages.exists(s =>
      s.startsWith("localCheckpoint at") || s.startsWith("checkpoint at")))
    val x = t.totals
    val wall = runs.map(_.latencyS).sum
    val byOp = runs.groupBy(_.op.name)

    val pipelineSteps = runs.collect {
      case r if Set("ep1", "ep2", "ep3")(r.op.name) =>
        s"pipelines.${r.op.name}_s" -> r.latencyS
      case r if r.op.name.matches("pipe[0-9]+_.*") =>
        s"pipelines.${r.op.name.takeWhile(_ != '_')}_s" -> r.latencyS
    }
    val families = runs.groupBy(_.op.family).map { case (f, rs) =>
      s"family.$f.s" -> rs.map(_.latencyS).sum
    }
    Map(
      "construct.s" -> runs.map(_.constructS).sum,
      "construct.jobs" -> jobsIn(_.phase == "construct"),
      "catalyst.s" -> t.qeRecords.map(_.catalystMs).sum / 1e3,
      "action.s" -> runs.map(_.actionS).sum,
      "action.jobs" -> jobsIn(_.phase == "action"),
      "exec.jobs" -> t.jobRecords.size.toDouble,
      "exec.stages" -> x.stages.toDouble,
      "exec.tasks" -> x.tasks.toDouble,
      "exec.task_cpu_s" -> x.taskCpuNs / 1e9,
      "exec.task_run_s" -> x.taskRunMs / 1e3,
      "exec.core_util" -> (if (wall > 0) x.taskRunMs / 1e3 / (wall * cpus) else 0.0),
      "exec.shuffle_write_mb" -> x.shuffleWriteB / 1e6,
      "exec.spill_mb" -> x.spillB / 1e6,
      "exec.gc_s" -> x.gcMs / 1e3,
      "exec.input_mb" -> x.inputB / 1e6,
      "exec.output_mb" -> x.outputB / 1e6,
      "tables.infer_jobs" -> infer.size.toDouble,
      "tables.infer_s" -> seconds(infer),
      "caching.checkpoint_jobs" -> checkpoints.size.toDouble,
      "sources.sink_s" -> byOp.get("sink").map(_.map(_.latencyS).sum).getOrElse(0.0),
      "sources.sink_jobs" -> jobsIn(_.op == "sink")
    ) ++ pipelineSteps ++ families
  }
}
