package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Seq(1.0, 2.0, 10.0)) == 2.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assert(Stats.medianOrNaN(Nil).isNaN && Stats.medianOrNaN(Seq(7.0)) == 7.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("union length counts overlaps once and ignores empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("self time subtracts the covered part of child spans, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    assert(Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 150L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("driver-serial time is the window left uncovered by task intervals") {
    assert(Stats.driverSerial(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 70)
    assert(Stats.driverSerial(0, 100, Seq((0L, 200L))) == 0)
  }

  test("utilization is task time over wall times cores") {
    assert(Stats.utilization(8.0, 4.0, 4) == 0.5)
    assert(Stats.utilization(1.0, 0.0, 4) == 0.0)
  }
}
