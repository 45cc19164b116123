package ragbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("median interpolates between the middle samples") {
    assert(close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    assert(close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0))
    assert(close(Stats.median(Seq(7.0)), 7.0))
  }

  test("quantile matches linear interpolation over the sorted samples") {
    val xs = (1 to 11).map(_.toDouble)
    assert(close(Stats.quantile(xs, 0.9), 10.0))
    assert(close(Stats.quantile(xs, 0.95), 10.5))
    assert(close(Stats.quantile(xs, 0.0), 1.0))
    assert(close(Stats.quantile(xs, 1.0), 11.0))
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred).map(_._1).contains(90.0))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0))
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_._1).contains(75.0))
    // 39 samples leave only 9 beyond p75: no tail is reported
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq(1.0, 2.0)).isEmpty)
    val (_, v) = Stats.tail(hundred).get
    assert(close(v, Stats.quantile(hundred, 0.9)))
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 30L), (5L, 10L), (12L, 20L))) == 30L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    // empty and inverted intervals cover nothing
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
  }

  test("overlap of two intervals") {
    assert(Stats.overlap(0, 10, 5, 20) == 5L)
    assert(Stats.overlap(0, 10, 10, 20) == 0L)
    assert(Stats.overlap(0, 10, 2, 3) == 1L)
  }
}
