package graft.bench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail percentile needs at least 10 samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).isEmpty)
    assert(Stats.percentile(xs :+ 100.0, 0.9).contains(90.0))
    assert(Stats.percentile((1 to 999).map(_.toDouble), 0.99).isEmpty)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    // the low tail is held to the same rule
    assert(Stats.percentile(xs, 0.1).isEmpty)
  }

  test("the median needs one sample and averages an even middle") {
    assert(Stats.percentile(Seq(3.0), 0.5).contains(3.0))
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq.empty, 0.5).isEmpty)
  }

  test("overlapping jobs count once in the covered time and the gap") {
    // Two concurrent jobs, 0-60 and 20-100, inside a 0-120 span: their
    // walls sum to 140 > 120, the union is 100, the gap 20.
    val jobs = Seq((0L, 60L), (20L, 100L))
    assert(Stats.covered(jobs) == 100L)
    assert(Stats.gap(0L, 120L, jobs) == 20L)
    assert(Stats.gap(0L, 120L, Nil) == 120L)
  }

  test("the gap clips jobs to the window and merges touching ones") {
    val jobs = Seq((-50L, 10L), (10L, 30L), (90L, 200L), (40L, 40L))
    assert(Stats.union(jobs) == Seq((-50L, 30L), (90L, 200L)))
    assert(Stats.gap(0L, 100L, jobs) == 60L)
  }

  test("span self time is its wall minus its children's union") {
    val children = Seq((10L, 40L), (30L, 50L), (70L, 80L))
    assert(Stats.selfTime(0L, 100L, children) == 100L - 40L - 10L)
  }
}
