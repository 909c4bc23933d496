package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

import graft.functions.ExactRound

/** [[ExactRound.ratio6]] must equal BigDecimal HALF_UP division for
  * every integer pair — including exact ties at the 6th decimal,
  * where round(double, 6) diverges between engines (the r8/r9
  * corpus_stats hash red). The integer-division twin the DuckDB
  * oracles use, ((2a·10⁶+b) // (2b)) / 1e6, is replayed here with
  * BigInt arithmetic so both sides of the portability contract are
  * pinned in one place.
  */
class ExactRoundSpec extends SparkSpec {
  import spark.implicits._

  private def groundTruth(a: Long, b: Long): Double =
    new JBigDecimal(a).divide(new JBigDecimal(b), 6, RoundingMode.HALF_UP)
      .doubleValue()

  private def duckdbTwin(a: Long, b: Long): Double =
    ((BigInt(2) * a * 1000000 + b) / (BigInt(2) * b)).toDouble / 1e6

  // exact 6-dp ties (true quotient ends in …5 at scale 7), near-ties
  // one ulp-of-decimal either side, plus plain values and a=0
  private val cases: Seq[(Long, Long)] = Seq(
    (1L, 2000000L),          // 5e-7: the canonical tie, rounds to 1e-6
    (3L, 2000000L),          // 1.5e-6 tie
    (1L, 2L),                // 0.5 exact, no tie at scale 6
    (7L, 3L),                // repeating 2.333333…
    (1L, 3L), (2L, 3L),      // repeating below 1
    (124999999L, 200000000L),// 0.624999995: tie at scale 8? -> 0.625000
    (1249999L, 2000000L),    // 0.6249995 tie -> 0.625000
    (1250001L, 2000000L),    // just above the tie
    (1249998L, 2000000L),    // 0.624999 exact
    (0L, 17L),               // zero numerator
    (123456789L, 1L),        // integer quotient
    (999999999999L, 7L),     // large numerator, repeating
    (1L, 1000000L),          // exactly 1e-6
    (1L, 999983L)            // prime-ish denominator
  )

  test("ratio6 == BigDecimal HALF_UP == the oracle's integer twin") {
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        ExactRound.ratio6(col("a"), col("b")).as("r"))
    df.collect().foreach { row =>
      val (a, b, r) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      assert(r == groundTruth(a, b), s"ratio6($a,$b)=$r != HALF_UP")
      assert(r == duckdbTwin(a, b), s"ratio6($a,$b)=$r != int twin")
    }
  }

  test("ratio6 of a zero or NULL denominator is NULL, not a crash") {
    val rows = Seq((1L, 0L)).toDF("a", "b")
      .select(ExactRound.ratio6(col("a"), col("b")).as("r"))
      .collect()
    assert(rows.head.isNullAt(0))
  }

  test("ratio matches HALF_UP at other scales") {
    for (scale <- Seq(0, 1, 4, 8, 9)) {
      val df = cases.toDF("a", "b")
        .select(col("a"), col("b"),
          ExactRound.ratio(col("a"), col("b"), scale).as("r"))
      df.collect().foreach { row =>
        val (a, b, r) = (row.getLong(0), row.getLong(1), row.getDouble(2))
        val want = new JBigDecimal(a)
          .divide(new JBigDecimal(b), scale, RoundingMode.HALF_UP)
          .doubleValue()
        assert(r == want, s"ratio($a,$b,$scale)=$r != $want")
      }
    }
  }

  // (x, scale, DuckDB 1.0's `round(x, scale)`): binary-half ties where
  // x·10^scale sits just below .5 (DuckDB rounds down, Catalyst's
  // shortest-repr round goes up), ties that sit above it, and exact
  // halves at scale 0, which round away from zero in both engines
  private val duckdbRounds: Seq[(Double, Int, Double)] = Seq(
    (0.0039215, 6, 0.003921),
    (-0.0039215, 6, -0.003921),
    (0.0009845, 6, 0.000984),
    (0.0632845, 6, 0.063284),
    (0.000127745, 8, 0.00012774),
    (0.000565185, 8, 0.00056518),
    (0.0776795, 6, 0.07768),
    (0.000820155, 8, 0.00082016),
    (2.5, 0, 3.0),
    (-2.5, 0, -3.0),
    (0.5, 0, 1.0))

  test("roundDouble == DuckDB's round(double, d) on binary ties") {
    for ((x, scale, want) <- duckdbRounds) {
      // repartition: evaluate in a codegen'd stage, as the queries do,
      // not by folding over the local relation
      val row = Seq(x).toDF("x").repartition(1)
        .select(ExactRound.roundDouble(col("x"), scale).as("r"),
          round(col("x"), scale).as("catalyst"))
        .collect().head
      assert(row.getDouble(0) == want, s"roundDouble($x, $scale)")
      // the helper exists because Catalyst's own round differs here
      if (x == 0.0039215)
        assert(row.getDouble(1) == 0.003922, "Catalyst rounds the repr")
    }
  }
}
