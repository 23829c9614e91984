package graft.bench

/** Turns one traced pass (its spans, the listener's jobs and counters)
  * into the per-layer metrics. Pure, so the self-tests can feed it
  * synthetic spans. */
object LayerReport {

  val Families: Seq[String] = Seq("etl", "ops", "text", "dedup", "sim", "er", "mm")
  val Loops: Seq[String] = Seq("bars", "domain")

  private val MB = 1024.0 * 1024.0

  /** Unit of a per-layer metric, read off its name. */
  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") || n.endsWith("_ms_p50") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_s") => "s"
    case "core_busy" | "write_amp" | "span_coverage" => "ratio"
    case _ => "count"
  }

  /** State of the loops after the traced pass (zero on batch workloads). */
  final case class LoopState(
      stateBytes: Long, manifests: Long, inputBytes: Long)

  /** `ops` are the traced pass's op spans, children of `pass`. */
  def metrics(
      pass: Span, ops: Seq[Span], jobs: Seq[JobRec],
      counters: Map[Long, Counters], cores: Int, logErrors: Long,
      state: LoopState): collection.mutable.LinkedHashMap[String, Double] = {
    val out = collection.mutable.LinkedHashMap.empty[String, Double]
    val jobsOf: Map[Long, Seq[JobRec]] = jobs.groupBy(_.span)
    def spanJobs(s: Span) = jobsOf.getOrElse(s.id, Nil)
    def intervals(js: Seq[JobRec]) = js.map(j => (j.startUs, j.endUs))
    def cnt(ss: Seq[Span]) =
      ss.map(s => counters.getOrElse(s.id, Counters())).foldLeft(Counters())(_ + _)
    def wall(ss: Seq[Span]) = ss.map(_.wallS).sum
    def driverS(ss: Seq[Span]) =
      ss.map(s => Stats.gap(s.startUs, s.endUs, intervals(spanJobs(s)))).sum / 1e6

    for (f <- Families) {
      val ss = ops.filter(s => s.layer == f && s.kind == "query")
      val c = cnt(ss)
      out(s"$f.wall_s") = wall(ss)
      out(s"$f.jobs") = c.jobs.toDouble
      out(s"$f.task_cpu_s") = c.taskCpuNs / 1e9
      out(s"$f.shuffle_mb") = c.shuffleWriteB / MB
      out(s"$f.driver_s") = driverS(ss)
    }

    for (l <- Loops) {
      val epochs = ops.filter(s => s.layer == s"streaming.$l" && s.kind == "epoch")
      val reads = ops.filter(s => s.layer == s"streaming.$l" && s.kind == "read")
      out(s"streaming.$l.epoch_s") = wall(epochs)
      out(s"streaming.$l.epoch_jobs") = cnt(epochs).jobs.toDouble
      out(s"streaming.$l.driver_s") = driverS(epochs)
      out(s"streaming.$l.read_s") = wall(reads)
    }
    def p50(ss: Seq[Span]) =
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.wallS))
    out("streaming.epoch_p50_s") = p50(ops.filter(_.kind == "epoch"))
    out("streaming.read_p50_s") = p50(ops.filter(_.kind == "read"))

    val maint = ops.filter(_.kind == "maintain")
    val loopSpans = ops.filter(s => s.kind == "epoch" || s.kind == "maintain")
    val written = cnt(loopSpans).outputB
    out("etl.snapshot.maintain_s") = wall(maint)
    out("etl.snapshot.maintain_jobs") = cnt(maint).jobs.toDouble
    out("etl.snapshot.bytes_written_mb") = written / MB
    out("etl.snapshot.state_mb") = state.stateBytes / MB
    out("etl.snapshot.write_amp") =
      if (state.inputBytes > 0) written.toDouble / state.inputBytes else 0.0
    out("etl.snapshot.manifests") = state.manifests.toDouble

    val all = cnt(pass +: ops) + counters.getOrElse(0L, Counters())
    val passWallS = pass.wallS
    out("spark.jobs") = jobs.size.toDouble
    out("spark.stages") = all.stages.toDouble
    out("spark.tasks") = all.tasks.toDouble
    out("spark.job_p50_ms") =
      if (jobs.isEmpty) 0.0
      else Stats.median(jobs.map(j => (j.endUs - j.startUs) / 1e3))
    out("spark.task_cpu_s") = all.taskCpuNs / 1e9
    out("spark.task_run_s") = all.taskRunMs / 1e3
    out("spark.core_busy") = all.taskRunMs / 1e3 / (passWallS * cores)
    out("spark.shuffle_write_mb") = all.shuffleWriteB / MB
    out("spark.shuffle_read_mb") = all.shuffleReadB / MB
    out("spark.spill_mb") = all.spillB / MB
    out("spark.gc_s") = all.gcMs / 1e3
    out("spark.failed_tasks") = all.failedTasks.toDouble
    out("spark.log_errors") = logErrors.toDouble

    out("driver.gap_s") = Stats.gap(pass.startUs, pass.endUs, intervals(jobs)) / 1e6
    val firstJob = ops.flatMap { s =>
      spanJobs(s).map(_.startUs).minOption.map(j => math.max(0L, j - s.startUs) / 1e3)
    }
    out("driver.first_job_ms_p50") =
      if (firstJob.isEmpty) 0.0 else Stats.median(firstJob)
    out("trace.span_coverage") =
      Stats.covered(ops.map(s => (s.startUs, s.endUs))).toDouble /
        math.max(1L, pass.endUs - pass.startUs)
    out
  }
}
