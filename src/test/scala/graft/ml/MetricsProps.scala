package graft.ml

import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.TestSpark

/** The threshold-sweep metrics must equal naive single-machine
  * implementations of the sklearn definitions (SURVEY §2.H8-H11):
  *  - ROC-AUC: average-rank Mann-Whitney (≡ trapezoid over all thresholds);
  *  - AP: step-wise Σ(Rₙ−Rₙ₋₁)Pₙ over distinct thresholds descending;
  * exercised with heavy score ties and infinite scores, all-one-class edge
  * cases aside, on both the driver sweep and the distributed sweep. */
object MetricsProps extends Properties("Metrics") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxDiscardRatio(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def naiveAuc(rows: List[(Int, Double)]): Double = {
    val pos = rows.count(_._1 == 1).toDouble
    val neg = rows.size - pos
    if (pos == 0 || neg == 0) return Double.NaN
    // average ranks ascending by score
    val sorted = rows.map(_._2).sorted.zipWithIndex
    val avgRank = sorted.groupBy(_._1).map { case (s, g) =>
      s -> (g.map(_._2 + 1).sum.toDouble / g.size)
    }
    val sumRanksPos = rows.filter(_._1 == 1).map(r => avgRank(r._2)).sum
    (sumRanksPos - pos * (pos + 1) / 2) / (pos * neg)
  }

  private def naiveAp(rows: List[(Int, Double)]): Double = {
    val pos = rows.count(_._1 == 1).toDouble
    if (pos == 0) return Double.NaN
    val byScore = rows.groupBy(_._2).toList.sortBy(-_._1) // thresholds descending
    var tp = 0L; var fp = 0L; var ap = 0.0
    byScore.foreach { case (_, g) =>
      val np = g.count(_._1 == 1); val nn = g.size - np
      tp += np; fp += nn
      ap += (np / pos) * (tp.toDouble / (tp + fp))
    }
    ap
  }

  private val rowsGen: Gen[List[(Int, Double)]] = for {
    n <- Gen.choose(2, 80)
    rows <- Gen.listOfN(n, for {
      y <- Gen.oneOf(0, 1)
      s <- Gen.frequency(
        10 -> Gen.choose(0, 8).map(_ / 8.0), // force ties
        10 -> Gen.chooseNum(0.0, 1.0),
        1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))
    } yield (y, s))
  } yield rows

  private def scoredDf(rows: List[(Int, Double)]) =
    rows.map { case (y, s) => (y.toDouble, if (s > 0.5) 1.0 else 0.0, s) }
      .toDF("label", "prediction", "score")

  /** (AUC, AP) from the driver sweep, then from the distributed sweep. */
  private def bothPaths(rows: List[(Int, Double)]): Seq[(Double, Double)] = {
    val df = scoredDf(rows)
    Seq(Metrics.sweep(df), Metrics.sweep(df, driverMaxRows = 0L)).map(sw => (sw.auc, sw.ap))
  }

  property("rocAuc == average-rank Mann-Whitney") = Prop.forAll(rowsGen) { rows =>
    val mixed = rows.map(_._1).distinct.size == 2
    if (!mixed) Prop.passed
    else {
      val got = Metrics.rocAuc(scoredDf(rows))
      val want = naiveAuc(rows)
      Prop(math.abs(got - want) < 1e-9) :| s"got $got want $want"
    }
  }

  property("averagePrecision == sklearn step-wise AP") = Prop.forAll(rowsGen) { rows =>
    if (!rows.exists(_._1 == 1)) Prop.passed
    else {
      val got = Metrics.averagePrecision(scoredDf(rows))
      val want = naiveAp(rows)
      Prop(math.abs(got - want) < 1e-9) :| s"got $got want $want"
    }
  }

  property("driver and distributed sweeps both equal the naive AUC and AP") =
    Prop.forAll(rowsGen) { rows =>
      val (wantAuc, wantAp) = (naiveAuc(rows), naiveAp(rows))
      def close(got: Double, want: Double) =
        (got.isNaN && want.isNaN) || math.abs(got - want) < 1e-9
      val got = bothPaths(rows)
      Prop(got.forall { case (auc, ap) => close(auc, wantAuc) && close(ap, wantAp) }) :|
        s"driver, distributed $got want ($wantAuc, $wantAp)"
    }

  property("NaN and infinite scores sweep in the same order on both paths") = {
    // Spark orders NaN above +∞; the driver sweep must order it the same way
    val rows = List((1, Double.NaN), (0, Double.NaN), (0, Double.PositiveInfinity),
      (1, 0.5), (0, 0.5), (1, 0.25), (0, Double.NegativeInfinity), (1, Double.NegativeInfinity))
    val Seq(driver, dist) = bothPaths(rows)
    Prop(math.abs(driver._1 - dist._1) < 1e-9 && math.abs(driver._2 - dist._2) < 1e-9) :|
      s"driver $driver distributed $dist"
  }

  property("adversarial score sliver: metrics exact, heavy bucket split") = {
    // 3000 distinct scores inside a ~3e-4-wide sliver of a 2e9-wide range:
    // the naive fixed-width bucketing puts 99.9% of them in ONE bucket;
    // refineCuts must re-cut the sliver so no bucket exceeds maxBucket.
    // 3002 scores fit the driver sweep, so the metrics are forced distributed.
    val rows = ((0 until 3000).map(i => (i % 2, 1e9 + i * 1e-4)) ++
      Seq((0, 0.0), (1, 2e9))).toList
    val df = scoredDf(rows)
    val sw = Metrics.sweep(df, driverMaxRows = 0L)
    val (gotAuc, gotAp) = (sw.auc, sw.ap)
    val aucOk = Prop(math.abs(gotAuc - naiveAuc(rows)) < 1e-9) :|
      s"auc $gotAuc want ${naiveAuc(rows)}"
    val apOk = Prop(math.abs(gotAp - naiveAp(rows)) < 1e-9) :|
      s"ap $gotAp want ${naiveAp(rows)}"
    // the refinement itself: every bucket ends below the split threshold
    import org.apache.spark.sql.functions._
    val g = df.groupBy(col("score").cast(org.apache.spark.sql.types.DoubleType).as("s"))
      .agg(count(lit(1)).as("n"))
    // p = 16 makes maxBucket = max(4·⌈3002/16⌉, 1024) = 1024 < 3002, so the
    // 15 equal-width cuts must be refined
    val p = 16
    val cuts = Metrics.refineCuts(g, p, 3002L, 0.0, 2e9)
    val maxBucket = math.max(4L * ((3002L + p - 1) / p), 1024L)
    val worst = g.groupBy(size(filter(lit(cuts.toArray), b => b > col("s"))).as("pid"))
      .agg(count(lit(1)).as("cnt")).agg(max("cnt")).head().getLong(0)
    val splitOk = Prop(maxBucket == 1024L && cuts.size > 15 && worst <= maxBucket) :|
      s"heaviest bucket $worst, maxBucket $maxBucket, cuts=${cuts.size} (want > 15)"
    aucOk && apOk && splitOk
  }

  property("accuracy + confusion + report agree with direct counts") = Prop.forAll(rowsGen) { rows =>
    val df = scoredDf(rows)
    val predOf = (s: Double) => if (s > 0.5) 1 else 0
    val accWant = rows.count { case (y, s) => predOf(s) == y }.toDouble / rows.size
    val cm = Metrics.confusion(df)
    val tn = rows.count { case (y, s) => y == 0 && predOf(s) == 0 }
    val fp = rows.count { case (y, s) => y == 0 && predOf(s) == 1 }
    val fn = rows.count { case (y, s) => y == 1 && predOf(s) == 0 }
    val tp = rows.count { case (y, s) => y == 1 && predOf(s) == 1 }
    val rep = Metrics.report(cm)
    val p1Ok = rep(1).precision match {
      case None => tp + fp == 0
      case Some(p1) => tp + fp > 0 && math.abs(p1 - tp.toDouble / (tp + fp)) < 1e-12
    }
    (Prop(math.abs(Metrics.accuracy(df) - accWant) < 1e-12) :| "accuracy") &&
      (Prop(cm.map(_.toSeq).toSeq == Seq(Seq(tn.toLong, fp.toLong), Seq(fn.toLong, tp.toLong))) :| s"confusion ${cm.map(_.mkString(",")).mkString(";")}") &&
      (Prop(p1Ok) :| s"report precision ${rep(1).precision} (tp $tp, fp $fp)")
  }
}
