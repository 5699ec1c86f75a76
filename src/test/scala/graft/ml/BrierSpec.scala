package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.MlQueries

/** The h17 Brier decomposition's defining laws: the five-way identity
  * brier = reliability − resolution + uncertainty + wb_var − 2·wb_cov
  * (Stephenson, Coelho & Jolliffe 2008 — EXACT for continuous forecasts,
  * where Murphy's classic three-term form mis-adds), a one-row-per-bin
  * hand fixture where the wb terms vanish and the classic form reappears,
  * and the identity on the real scored frame.
  */
class BrierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def decomp(rows: Seq[(Double, Long)]) = {
    import spark.implicits._
    val r = MlQueries.brierDecomposition(rows.toDF("x", "label")).collect()(0)
    (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
  }

  private def identityGap(t: (Long, Double, Double, Double, Double, Double,
      Double, Double)): Double =
    math.abs(t._3 - (t._4 - t._5 + t._6 + t._7 - 2 * t._8))

  test("hand fixture (0.2, 0) + (0.8, 1): brier = 0.04, rel = 0.04, " +
      "res = unc = 0.25, wb terms vanish — the classic three-term form") {
    val t = decomp(Seq((0.2, 0L), (0.8, 1L)))
    assert(t._1 === 2L && t._2 === 0.5)
    assert(math.abs(t._3 - 0.04) < 1e-6, s"brier: $t")
    assert(math.abs(t._4 - 0.04) < 1e-6, s"reliability: $t")
    assert(math.abs(t._5 - 0.25) < 1e-6 && math.abs(t._6 - 0.25) < 1e-6)
    assert(t._7 === 0.0 && t._8 === 0.0,
      "single-forecast bins have zero within-bin variance/covariance")
    assert(identityGap(t) < 1e-6)
  }

  test("mixed bins put mass in the wb terms and the FIVE-way identity " +
      "still closes where the three-way one would not") {
    // bin 8 holds two different forecasts -> wb_var > 0
    val t = decomp(Seq((0.81, 1L), (0.89, 0L), (0.2, 0L), (0.25, 0L)))
    assert(t._7 > 0.0, s"within-bin forecast variance must register: $t")
    // each of the 6 terms rounds at 6 dp independently -> the identity
    // closes to the accumulated rounding, not to machine epsilon
    assert(identityGap(t) < 5e-6, s"five-way identity: $t")
    val threeWay = math.abs(t._3 - (t._4 - t._5 + t._6))
    assert(threeWay > 1e-4,
      s"the classic form must visibly mis-add here (gap $threeWay) — " +
        "that gap is exactly what the two extra terms carry")
  }

  test("real scored frame: identity closes at output rounding, terms are " +
      "non-negative where theory says so") {
    val r = MlQueries.h17_brier_decomposition
      .fn(spark, "/root/testdata/sf0.001").collect()(0)
    val (brier, rel, res, unc, wbv, wbc) = (r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
    assert(math.abs(brier - (rel - res + unc + wbv - 2 * wbc)) < 5e-6,
      s"identity at 6-dp rounding: $r")
    assert(rel >= 0.0 && res >= 0.0 && wbv >= 0.0 && unc >= 0.0 && unc <= 0.25)
    // the scored frame is calibrated BY CONSTRUCTION (P(y=1|x) = x), so
    // miscalibration must be small while resolution is substantial
    assert(rel < 0.01, s"calibrated-by-construction frame: rel = $rel")
    assert(res > 0.05, s"x genuinely separates outcomes: res = $res")
  }

  test("h18 MCC closed forms: perfect = 1, inverted = -1, one-class " +
      "marginal = null (never NaN), hand 2x2 hits the exact value") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long)]): org.apache.spark.sql.Row =
      MlQueries.mcc(rows.toDF("label", "prediction")).collect()(0)
    val perfect = run(Seq((1L, 1L), (1L, 1L), (0L, 0L)))
    assert(perfect.getDouble(4) === 1.0)
    val inverted = run(Seq((1L, 0L), (0L, 1L), (0L, 1L), (1L, 0L)))
    assert(inverted.getDouble(4) === -1.0)
    val oneClass = run(Seq((1L, 1L), (1L, 1L)))
    assert(oneClass.isNullAt(4),
      "a zero marginal must read null, never NaN or a crash")
    // tp=2 fp=1 tn=3 fn=1: mcc = (6-1)/sqrt(3*3*4*4) = 5/12
    val hand = run(Seq((1L, 1L), (1L, 1L), (0L, 1L), (0L, 0L), (0L, 0L),
      (0L, 0L), (1L, 0L)))
    assert((hand.getLong(0), hand.getLong(1), hand.getLong(2),
      hand.getLong(3)) === ((2L, 1L, 3L, 1L)))
    assert(math.abs(hand.getDouble(4) - 5.0 / 12.0) < 1e-6)
  }

  test("h18 on the corpus: mcc recomputes from its own emitted counts and " +
      "sits in (0, 1) for the calibrated scorer") {
    val r = MlQueries.h18_mcc.fn(spark, "/root/testdata/sf0.001").collect()(0)
    val (tp, fp, tn, fn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    val want = (tp.toDouble * tn - fp.toDouble * fn) /
      math.sqrt((tp + fp).toDouble * (tp + fn) * (tn + fp) * (tn + fn))
    assert(math.abs(r.getDouble(4) - want) < 1e-6,
      s"the emitted counts must reproduce the emitted mcc: $r")
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0)
  }
}
