package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tailAt reads the highest percentile with ten samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    assert(Stats.tailAt(xs, 100).contains(Stats.Tail(90.0, 90.0, 10, 100)))
  }

  test("tailAt of eleven samples is the smallest, with the other ten beyond") {
    val t = Stats.tailAt((1 to 11).map(_.toDouble).reverse, 11).get
    assert(t.value == 1.0 && t.beyond == 10 && t.n == 11)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-12)
  }

  test("tailAt holds the percentile of its minimum sample count") {
    // 21 samples held at the percentile of 15 (rank 5 of 15, p33.3): rank 7
    val t = Stats.tailAt(scala.util.Random.shuffle((1 to 21).map(_.toDouble)), 15).get
    assert(t.value == 7.0 && t.beyond == 14 && t.n == 21)
    assert(math.abs(t.percentile - 100.0 / 3) < 1e-12)
  }

  test("tailAt has no reading with ten samples or fewer, or below its minimum") {
    assert(Stats.tailAt((1 to 10).map(_.toDouble), 10).isEmpty)
    assert(Stats.tailAt(Nil, 0).isEmpty)
    assert(Stats.tailAt((1 to 14).map(_.toDouble), 15).isEmpty)
  }

  test("median takes the midpoint of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("unionLength counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
