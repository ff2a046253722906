package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest sample with at least ten samples beyond it") {
    val xs = (1 to 270).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 260.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.samples == 270)
    assert(math.abs(t.percentile - 100.0 * 260 / 270) < 1e-9)
  }

  test("the tail follows the rule on unsorted input and shrinks with the sample count") {
    val xs = scala.util.Random.shuffle((1 to 25).map(_.toDouble))
    assert(Stats.tail(xs).value == 15.0)
    assert(Stats.tail(xs, beyond = 5).value == 20.0)
  }

  test("with too few samples for ten beyond the median, the tail is the median") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t.value == 2.0 && t.samples == 3)
    assert(Stats.tail((1 to 15).map(_.toDouble)).value == 8.0)
    assert(Stats.tail((1 to 20).map(_.toDouble)).value == 11.0, "never below the median 10.5")
    assert(Stats.tail((1 to 21).map(_.toDouble)).value == 11.0)
    assert(Stats.tail((1 to 22).map(_.toDouble)).value == 12.0)
  }

  test("median") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
