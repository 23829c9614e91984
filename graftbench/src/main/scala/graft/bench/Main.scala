package graft.bench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

/** The benchmark's JVM side: one workload, one seed, one closed-loop
  * client on `local[<cores>]`.
  *
  *  1. set-up: session, then the workload's warm pass (it plants each
  *     query's write-once layouts); `setup_s` runs from JVM start to
  *     its end;
  *  2. timed passes, no listener registered: as many as the workload's
  *     nominal pass length fits in `--seconds`, at least one; `wall_s`
  *     and `cpu_s` sum each operation's median over them;
  *  3. with `--trace 1`: exactly one timed pass, one traced pass whose
  *     spans and listener counters give the per-layer metrics, and one
  *     more untraced pass; the two untraced passes are the baseline of
  *     the tracing overhead.
  *
  * The last stdout line is the result object; the full record (host
  * stamps, per-pass figures, failures) goes to `--out`.
  */
object Main {

  final case class Opts(
      workload: String = "", seed: Long = 1L, seconds: Double = Double.NaN,
      trace: Boolean = false, data: String = "", work: String = "",
      out: String = "", expected: String = "", record: Boolean = false,
      oracleOut: String = "", prime: Boolean = false)

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case Seq() => o
    case "--workload" +: v +: r => parse(r, o.copy(workload = v))
    case "--seed" +: v +: r => parse(r, o.copy(seed = v.toLong))
    case "--seconds" +: v +: r => parse(r, o.copy(seconds = v.toDouble))
    case "--trace" +: v +: r => parse(r, o.copy(trace = v == "1"))
    case "--data" +: v +: r => parse(r, o.copy(data = v))
    case "--work" +: v +: r => parse(r, o.copy(work = v))
    case "--out" +: v +: r => parse(r, o.copy(out = v))
    case "--expected" +: v +: r => parse(r, o.copy(expected = v))
    case "--record" +: r => parse(r, o.copy(record = true))
    case "--oracle-out" +: v +: r => parse(r, o.copy(oracleOut = v))
    case "--prime" +: r => parse(r, o.copy(prime = true))
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  /** One executed operation of a pass. */
  final case class Done(op: Op, span: Span, cpuS: Double, error: Option[String])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The host stamp: the repo's own probes, recorded as run metadata. */
  def hostStamp(): Map[String, Double] = Map(
    "host_cpu_ms" -> graft.Bench.cpuProbeMillis(),
    "host_wakeup_us" -> graft.Bench.wakeupOvershootMicros())

  /** Runs one pass: every op timed, then (when `checks`) its state
    * check untimed. */
  def runPass(ctx: Ctx, w: Workload, passNo: Int, spans: Spans,
      checks: Boolean): Seq[Done] =
    w.pass(ctx, passNo).map { op =>
      def attempt(f: () => Unit): Option[String] =
        try { f(); None }
        catch { case NonFatal(e) => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val cpu0 = osBean.getProcessCpuTime
      def check(): Option[String] =
        try op.check() catch { case NonFatal(e) =>
          Some(s"${op.name} check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val (err, span) = spans(op.name, op.layer, op.kind)(attempt(op.run))
      val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      val checked = err.orElse(if (checks) check() else None)
      Done(op, span, cpuS, checked)
    }

  /** Writes each query's result (one file per query, the layout
    * `tools/check_oracle.py` reads) with the oracle SQL beside it, and
    * checks that the written rows carry the expected digest — so an
    * oracle PASS over that directory vouches for the recorded digests. */
  def oracleDump(o: Opts): Unit = {
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val expected = new Expected(o.expected, recording = false)
    val names = Workloads.all.collect {
      case w: Workloads.QueryWorkload => w.queries }.flatten
    val bad = names.flatMap { n =>
      val dir = s"${o.oracleOut}/$n"
      graft.SparkEntry.queries(n)(spark, o.data).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      expected.compare(s"query/$n", Digest.of(spark.read.parquet(dir)))
    }
    graft.Verify.writeOracleSql(o.oracleOut,
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    bad.foreach(b => println(s"[graftbench] MISMATCH $b"))
    println(s"[graftbench] wrote ${names.size} results to ${o.oracleOut}; " +
      s"${bad.size} digest mismatches")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }

  /** Heap still in use after a full collection, in MB: what a pass left
    * live (standing state, caches, layout handles). Untimed; the record
    * keeps the largest reading over every pass, warm ones included. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** One untimed pass of every workload, nothing checked or recorded:
    * it loads the classes a run loads, for the class-data-sharing archive
    * the build dumps at this JVM's exit. */
  def prime(o: Opts): Unit = {
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val ctx = Ctx(spark, o.data, o.work, o.seed, new Expected(o.expected, recording = false))
    val quiet = new Spans(spark.sparkContext, traced = false)
    Workloads.all.foreach(w => runPass(ctx, w, 0, quiet, checks = false))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    if (o.oracleOut.nonEmpty) return oracleDump(o)
    if (o.prime) return prime(o)
    require(o.seconds > 0, "--seconds must be given and positive")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val hostBefore = hostStamp()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local(cores.toString)
    val sc = spark.sparkContext
    val w = Workloads(o.workload)
    val expected = new Expected(o.expected, o.record)
    val ctx = Ctx(spark, o.data, o.work, o.seed, expected)
    val quiet = new Spans(sc, traced = false)

    val (warmPasses, warmLiveMb) = (1 to w.warmPasses).map { i =>
      (runPass(ctx, w, -i, quiet, checks = true), liveHeapMb())
    }.unzip
    val warm = warmPasses.flatten
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (o.record) {
      expected.save()
      warm.flatMap(_.error).foreach(e => println(s"[graftbench] record: $e"))
    }

    val timedT0 = System.nanoTime()
    val nPasses = if (o.trace) 1 else w.timedPasses(o.seconds)
    val (passes, liveMb) = (1 to nPasses).map { i =>
      (runPass(ctx, w, i, quiet, checks = true), liveHeapMb())
    }.unzip
    val timedS = (System.nanoTime() - timedT0) / 1e9

    val done = passes.flatten.toSeq
    val errors = (warm ++ done).flatMap(_.error).distinct
    val nFailed = done.count(_.error.nonEmpty)
    val passWall = passes.map(_.map(_.span.wallS).sum).toSeq
    val passCpu = passes.map(_.map(_.cpuS).sum).toSeq
    // Each operation's median over the timed passes, summed: a pass is
    // the unit of work, and a host stall or the JIT's last catch-up in
    // one pass moves only that pass's sample of the operations it hits.
    def medianPass(f: Done => Double): Double =
      done.groupBy(_.op.name).values.map(ds => Stats.median(ds.map(f))).sum

    val e2e = Json.obj(
      "setup_s" -> setupS,
      "wall_s" -> medianPass(_.span.wallS),
      "cpu_s" -> medianPass(_.cpuS))

    // The traced pass sits between two untraced ones, so the JIT's
    // pass-to-pass speed-up cancels out of the overhead.
    val traced = if (!o.trace) None else {
      val t = tracedPass(ctx, w, nPasses + 1, cores)
      val after = runPass(ctx, w, nPasses + 2, quiet, checks = true)
      Some(t.against((passWall.head + after.map(_.span.wallS).sum) / 2))
    }
    val hostAfter = hostStamp()

    val units = Map("setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s")
    val metrics: Seq[(String, Any)] = traced match {
      case None => e2e.toSeq.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> units(k)) }
      case Some(t) => t.metrics.toSeq.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> LayerReport.unit(k)) }
    }
    val result = Json.obj(
      "correct" -> (nFailed == 0 && errors.isEmpty),
      "attempted" -> done.size,
      "failed" -> nFailed,
      "metrics" -> Json.obj(metrics: _*))

    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Json.write(s"${o.out}/$tag.json", Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "trace" -> o.trace,
      "host_before" -> hostBefore, "host_after" -> hostAfter,
      "setup_s" -> setupS, "timed_s" -> timedS, "passes" -> passes.size,
      "pass_wall_s" -> passWall, "pass_cpu_s" -> passCpu,
      "failed_ops_ratio" -> nFailed.toDouble / math.max(1, done.size),
      "errors" -> errors,
      "end_to_end" -> e2e,
      // Recorded, not an end-to-end metric: over 5-11 unlike operations
      // the median jumps between the two nearest the middle.
      "op_p50_s" -> Stats.median(done.map(_.span.wallS)),
      // Recorded, not an end-to-end metric: what stays reachable after a
      // full collection swings by 2x with soft-referenced caches.
      "live_heap_peak_mb" -> (warmLiveMb ++ liveMb).max,
      "warm_ops" -> warm.map(d => Json.obj("name" -> d.op.name,
        "wall_s" -> d.span.wallS, "ok" -> d.error.isEmpty)),
      "ops" -> done.map(d => Json.obj("name" -> d.op.name, "layer" -> d.op.layer,
        "kind" -> d.op.kind, "wall_s" -> d.span.wallS, "ok" -> d.error.isEmpty)),
      "result" -> result))
    traced.foreach(t =>
      Json.write(s"${o.out}/$tag-spans.json", t.record(o.workload, o.seed)))

    errors.foreach(e => println(s"[graftbench] FAILED $e"))
    println(s"[graftbench] host_before=${Json.render(hostBefore)} " +
      s"host_after=${Json.render(hostAfter)} passes=${passes.size} " +
      s"failed_ops_ratio=${nFailed.toDouble / math.max(1, done.size)}")
    println(Json.render(result))
    spark.stop()
  }

  /** The traced pass and what it measured. */
  final class Traced(
      metrics0: collection.mutable.LinkedHashMap[String, Double],
      spans: Seq[Span], jobs: Seq[JobRec], counters: Map[Long, Counters],
      untracedWallS: Double = Double.NaN) {
    private val tracedWallS = spans.filter(_.kind != "pass").map(_.wallS).sum

    /** The per-layer metrics, with the overhead over `untracedWallS`. */
    val metrics: collection.mutable.LinkedHashMap[String, Double] =
      metrics0.clone() += ("trace.overhead_s" -> (tracedWallS - untracedWallS))

    def against(untracedWallS: Double): Traced =
      new Traced(metrics0, spans, jobs, counters, untracedWallS)

    def record(workload: String, seed: Long): Any =
      Json.obj(
        "workload" -> workload, "seed" -> seed,
        "traced_wall_s" -> tracedWallS,
        "untraced_wall_s" -> untracedWallS,
        "tracing_overhead_s" -> metrics("trace.overhead_s"),
        "metrics" -> metrics,
        "spans" -> spans.map { s =>
          val c = counters.getOrElse(s.id, Counters())
          val children = spans.filter(_.parent.contains(s.id))
            .map(k => (k.startUs, k.endUs))
          Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
            "kind" -> s.kind, "parent" -> s.parent, "start_us" -> s.startUs,
            "end_us" -> s.endUs,
            "self_s" -> Stats.selfTime(s.startUs, s.endUs, children) / 1e6,
            "workload" -> workload, "seed" -> seed,
            "counters" -> Json.obj("jobs" -> c.jobs, "stages" -> c.stages,
              "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
              "task_cpu_s" -> c.taskCpuNs / 1e9, "task_run_s" -> c.taskRunMs / 1e3,
              "gc_s" -> c.gcMs / 1e3, "shuffle_write_b" -> c.shuffleWriteB,
              "shuffle_read_b" -> c.shuffleReadB, "spill_b" -> c.spillB,
              "output_b" -> c.outputB))
        },
        "jobs" -> jobs.map(j => Json.obj("id" -> j.id, "span" -> j.span,
          "start_us" -> j.startUs, "end_us" -> j.endUs)))
  }

  /** One pass with the listener and the ERROR-line counter installed. */
  def tracedPass(ctx: Ctx, w: Workload, passNo: Int, cores: Int): Traced = {
    val sc = ctx.spark.sparkContext
    val rec = new Recorder
    val errs = new ErrorCounter
    val spans = new Spans(sc, traced = true)
    sc.addSparkListener(rec)
    errs.install()
    val (ops, pass) = try spans("pass", "bench", "pass") {
      runPass(ctx, w, passNo, spans, checks = false)
    } finally {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(rec)
      errs.remove()
    }
    val state = w.loopState(ctx, passNo)
    val m = LayerReport.metrics(pass, ops.map(_.span), rec.jobs,
      rec.countersBySpan, cores, errs.count.get(), state)
    new Traced(m, pass +: ops.map(_.span), rec.jobs, rec.countersBySpan)
  }
}
