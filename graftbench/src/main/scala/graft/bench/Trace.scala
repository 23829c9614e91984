package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call (or a group of them) on the driver. Times are
  * epoch microseconds so they line up with the listener's job times. */
final case class Span(
    id: Long, name: String, layer: String, kind: String,
    parent: Option[Long], startUs: Long, endUs: Long) {
  def wallS: Double = (endUs - startUs) / 1e6
}

/** Listener counters of one span (or of a whole traced section). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    failedTasks: Long = 0, taskCpuNs: Long = 0, taskRunMs: Long = 0,
    gcMs: Long = 0, shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    spillB: Long = 0, outputB: Long = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, taskCpuNs + o.taskCpuNs,
    taskRunMs + o.taskRunMs, gcMs + o.gcMs,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    spillB + o.spillB, outputB + o.outputB)
}

/** A finished Spark job: its interval (epoch µs) and owning span. */
final case class JobRec(id: Int, span: Long, startUs: Long, endUs: Long)

/** Opens and closes spans on the calling thread. Jobs are attributed
  * to the innermost open span through a local property the benchmark
  * owns ([[Spans.Property]]); graft code sets and clears
  * `spark.job.description` freely, so that property cannot carry
  * attribution. */
final class Spans(sc: SparkContext, val traced: Boolean) {
  private val nextId = new AtomicLong(1)
  private var open: List[Long] = Nil

  /** Runs `body` inside a span and returns its value with the span. */
  def apply[T](name: String, layer: String, kind: String)(
      body: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val parent = open.headOption
    val prev = sc.getLocalProperty(Spans.Property)
    if (traced) sc.setLocalProperty(Spans.Property, id.toString)
    open = id :: open
    val t0 = Spans.nowUs()
    try {
      val v = body
      (v, Span(id, name, layer, kind, parent, t0, Spans.nowUs()))
    } finally {
      open = open.tail
      if (traced) sc.setLocalProperty(Spans.Property, prev)
    }
  }
}

object Spans {
  val Property = "graftbench.span"

  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()

  /** Epoch µs off the monotonic clock: wall-aligned, never steps back. */
  def nowUs(): Long = originUs + (System.nanoTime() - originNs) / 1000L
}

/** The traced run's listener: job intervals and task counters, keyed
  * by the span that submitted them. Registered only for the traced
  * pass; timed passes run with no listener of the benchmark's. */
final class Recorder extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobsDone = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val counters = new ConcurrentHashMap[Long, Counters]()

  private def add(span: Long, c: Counters): Unit =
    counters.merge(span, c, (a: Counters, b: Counters) => a + b): Unit

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobStart.put(e.jobId, (span, e.time * 1000L))
    e.stageIds.foreach(stageSpan.put(_, span))
    add(span, Counters(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      jobsDone.add(JobRec(e.jobId, span, t0, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageSpan.getOrDefault(e.stageInfo.stageId, 0L), Counters(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val failed = if (e.reason == Success) 0L else 1L
    val m = e.taskMetrics
    val c =
      if (m == null) Counters(tasks = 1, failedTasks = failed)
      else Counters(
        tasks = 1, failedTasks = failed,
        taskCpuNs = m.executorCpuTime, taskRunMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled,
        outputB = m.outputMetrics.bytesWritten)
    add(span, c)
  }

  def jobs: Seq[JobRec] = jobsDone.asScala.toSeq.sortBy(_.id)
  def countersBySpan: Map[Long, Counters] = counters.asScala.toMap
}

/** Counts ERROR log events while installed (log4j2 root appender). */
final class ErrorCounter {
  val count = new AtomicLong(0)
  private val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graftbench-errors", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR))
        count.incrementAndGet(): Unit
  }

  private def ctx = org.apache.logging.log4j.LogManager.getContext(false)
    .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]

  def install(): Unit = {
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(
      appender, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
  }

  def remove(): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }
}
