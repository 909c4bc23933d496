package ssibench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between neighbouring ranks") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0)
    assert(Stats.quantile(xs, 0.0) == 10.0)
    assert(Stats.quantile(xs, 1.0) == 40.0)
    assert(Stats.median(xs) == 25.0)
    // position (4 - 1) * 0.99 = 2.97 → 30 + 0.97 * (40 - 30)
    assert(math.abs(Stats.quantile(xs, 0.99) - 39.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.quantile((1 to 101).map(_.toDouble), 0.99) == 100.0)
  }

  test("quantile rejects an empty sample") {
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
  }

  test("unionLength merges overlaps and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    // [10,30) ∪ [20,40) ∪ [50,60) = 30 + 10
    assert(Stats.unionLength(Seq((20L, 40L), (10L, 30L), (50L, 60L)), 0, 100) == 40)
    // nested interval adds nothing; touching intervals do not overlap
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L), (50L, 55L)), 0, 100) == 45)
    // clipped to [25, 52)
    assert(Stats.unionLength(Seq((10L, 30L), (50L, 60L)), 25, 52) == 7)
  }

  test("driver gap is wall time not covered by any stage") {
    // wall [0, 100); stages cover [10,40) and [60,70): gap = 100 - 40
    assert(Stats.driverGap(Seq((10L, 40L), (30L, 35L), (60L, 70L)), 0, 100) == 60)
    assert(Stats.driverGap(Nil, 5, 25) == 20)
    // a stage running past the window end counts only inside it
    assert(Stats.driverGap(Seq((-10L, 50L)), 0, 40) == 0)
  }

  test("core_util is executor time over wall time times cores") {
    assert(Stats.coreUtil(2000.0, 1000.0, 4) == 0.5)
    assert(Stats.coreUtil(4000.0, 1000.0, 4) == 1.0)
    assertThrows[IllegalArgumentException](Stats.coreUtil(1.0, 0.0, 4))
  }

  test("task skew is the median stage's slowest-over-mean ratio") {
    // ratios: 40/25 = 1.6, 10/10 = 1.0, 30/15 = 2.0; single-task stage ignored
    val stages = Seq(Seq(10L, 40L), Seq(10L, 10L), Seq(0L, 30L), Seq(99L))
    assert(Stats.taskSkew(stages) == 1.6)
    assert(Stats.taskSkew(Seq(Seq(5L))) == 1.0)
  }

  test("latency book stamps from the due time of each trade's frame") {
    // frames due at 1000, 2000, 3000 ns; trades 0,1 in frame 0, trade 2
    // in frame 2 (frame 1 was a ping)
    val book = new LatencyBook(Array(1000L, 2000L, 3000L), Array(0, 0, 2))
    book.seen(0, 2001000L)
    book.seen(2, 4003000L)
    assert(book.latencyMs(0) == 2.0)
    assert(book.latencyMs(1).isNaN)
    assert(book.latencyMs(2) == 4.0)
    assert(book.lost(3) == 1)
    assert(book.duplicated == 0)
    book.seen(1, 1001000L)
    book.seen(1, 9999999L) // a second sighting keeps the first stamp
    book.seen(7, 1L) // names no trade
    assert(book.latencyMs(1) == 1.0)
    assert(book.duplicated == 2)
    assert(book.lost(3) == 0)
    assert(book.latenciesMs(1, 3) == Seq(1.0, 4.0))
    assert(book.seenBetween(0L, 3000000L) == 2)
  }

  test("delivery rate counts between the first and last sink calls") {
    // sink calls at 1 s (2 trades), 2 s (3 trades) and 3.5 s (1 trade)
    val book = new LatencyBook(Array.fill(6)(0L), Array.range(0, 6))
    Seq(0 -> 1000000000L, 1 -> 1000000000L, 2 -> 2000000000L,
      3 -> 2000000000L, 4 -> 2000000000L, 5 -> 3500000000L)
      .foreach { case (g, t) => book.seen(g, t) }
    // (3 + 1) trades over 2.5 s
    assert(book.rateBetween(0L, 4000000000L) == 1.6)
    // the call at 3.5 s is outside: 3 trades over 1 s
    assert(book.rateBetween(0L, 3000000000L) == 3.0)
    assert(book.rateBetween(1500000000L, 3000000000L).isNaN)
  }

  test("spark percentile and round replicate q1's p95 arithmetic") {
    // position 20 * 0.95 = 19 falls on a rank: no interpolation
    assert(Inputs.sparkPercentile((0 to 20).map(_.toDouble), 0.95) == 19.0)
    // position 4 * 0.95 = 3.8 → 0.2 * 30 + 0.8 * 40
    assert(math.abs(Inputs.sparkPercentile(Vector(0.0, 10, 20, 30, 40), 0.95) - 38.0) < 1e-9)
    assert(Inputs.round6(0.1234565) == 0.123457)
    assert(Inputs.round6(2.0000004) == 2.0)
  }
}
