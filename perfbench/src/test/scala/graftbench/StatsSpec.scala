package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median interpolates between the middle samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail is the value with exactly ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs)).get
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
  }

  test("tail needs at least eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t.value == 1.0 && t.percentile == 100.0 / 11)
  }

  test("tail of 24 samples sits at the 58th percentile") {
    val t = Stats.tail((1 to 24).map(_.toDouble)).get
    assert(t.value == 14.0)
    assert(math.abs(t.percentile - 100.0 * 14 / 24) < 1e-9)
  }
}
