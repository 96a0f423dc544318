package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least 10 samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 0.75).isDefined)
    assert(Stats.percentile(xs.take(39), 0.75).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).isDefined)
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.percentile(xs, 0.9).isEmpty)
    assert(Stats.samplesBeyond(40, 0.75) == 10)
  }

  test("percentile interpolates between closest ranks, independent of input order") {
    val xs = scala.util.Random.shuffle((0 to 100).map(_.toDouble))
    assert(Stats.percentile(xs, 0.75).contains(75.0))
    assert(Stats.percentile((1 to 40).map(_.toDouble), 0.5).contains(20.5))
  }

  test("median and geomean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(0.0, 1.0)))
  }
}
