package graft.bench

import org.scalatest.funsuite.AnyFunSuite

class LayerReportSpec extends AnyFunSuite {

  private val pass = Span(1, "pass", "bench", "pass", None, 0L, 10000000L)
  private val q = Span(2, "q3", "ops", "query", Some(1), 1000000L, 3000000L)
  private val e = Span(3, "bars.epoch0", "streaming.bars", "epoch", Some(1),
    4000000L, 8000000L)
  // q's two jobs overlap; e's single job leaves 3 s of driver time.
  private val jobs = Seq(
    JobRec(1, 2, 1500000L, 2500000L), JobRec(2, 2, 2000000L, 2800000L),
    JobRec(3, 3, 5000000L, 6000000L))
  private val counters = Map(
    2L -> Counters(jobs = 2, tasks = 8, taskRunMs = 4000, shuffleWriteB = 1L << 20),
    3L -> Counters(jobs = 1, tasks = 2, taskRunMs = 1000, outputB = 2L << 20))
  private val m = LayerReport.metrics(pass, Seq(q, e), jobs, counters,
    cores = 4, logErrors = 0, LayerReport.LoopState(3L << 20, 2, 1L << 20))

  test("a family's driver time is its spans' wall outside the job union") {
    assert(m("ops.wall_s") == 2.0)
    assert(m("ops.jobs") == 2.0)
    assert(math.abs(m("ops.driver_s") - 0.7) < 1e-9)
    assert(m("ops.shuffle_mb") == 1.0)
    assert(m("etl.wall_s") == 0.0)
  }

  test("loop epochs, snapshot writes and the pass-level gap") {
    assert(m("streaming.bars.epoch_s") == 4.0)
    assert(m("streaming.bars.epoch_jobs") == 1.0)
    assert(m("streaming.bars.driver_s") == 3.0)
    assert(m("etl.snapshot.bytes_written_mb") == 2.0)
    assert(m("etl.snapshot.write_amp") == 2.0)
    assert(m("spark.jobs") == 3.0)
    assert(math.abs(m("driver.gap_s") - (10.0 - 1.3 - 1.0)) < 1e-9)
    assert(m("spark.core_busy") == 5.0 / (10.0 * 4))
    assert(m("trace.span_coverage") == 0.6)
    assert(m("driver.first_job_ms_p50") == 750.0)
  }

  test("every metric has a unit") {
    assert(LayerReport.unit("spark.job_p50_ms") == "ms")
    assert(LayerReport.unit("driver.first_job_ms_p50") == "ms")
    assert(LayerReport.unit("etl.snapshot.state_mb") == "MB")
    assert(LayerReport.unit("spark.core_busy") == "ratio")
    assert(LayerReport.unit("spark.jobs") == "count")
    assert(LayerReport.unit("streaming.bars.epoch_s") == "s")
  }
}
