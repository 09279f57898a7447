package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail: the (beyond+1)-th largest sample, with ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
  }

  test("tail: order of the input does not matter") {
    val xs = scala.util.Random.shuffle((1 to 37).map(_.toDouble))
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
    assert(Stats.tail(xs).value == 27.0)
  }

  test("tail: eleven samples leave exactly one percentile, the minimum") {
    val t = Stats.tail((1 to 11).map(_.toDouble))
    assert(t.value == 1.0)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-9)
  }

  test("tail: ten samples or fewer report the maximum at p100") {
    assert(Stats.tail(Seq(5.0, 9.0, 7.0)) == Stats.Tail(9.0, 100.0, 3))
    assert(Stats.tail((1 to 10).map(_.toDouble)).value == 10.0)
  }
}
