package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Mechanics of the EP3 stages H1-H4/H6 on small controlled data (the
  * BASELINE.md parity numbers live in GoldenSpec on the full fixture). */
class TrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val feats = Seq("x1", "x2")

  private def mk(n: Int) = (0 until n).map { i =>
    val x1 = (i % 97).toDouble / 97.0
    val x2 = ((i * 31) % 89).toDouble / 89.0
    val label = if (x1 + 0.1 * x2 > 0.5) 1 else 0
    (i.toLong, x1, x2, label)
  }.toDF("id", "x1", "x2", "influenza_a_detected")

  test("H1 modelMatrix: drops null feature rows, assembles dense vectors") {
    val df = mk(50).withColumn("x1", when(col("id") % 10 === 0, lit(null)).otherwise(col("x1")))
    val m = Train.modelMatrix(df, feats)
    assert(m.count() === 45)
    assert(m.select(Train.FeaturesCol).head().getAs[Vector](0).size === 2)
  }

  test("H2 hashSplit: deterministic, disjoint, ~1/nFolds test fraction") {
    val df = mk(2000)
    val (tr, te) = Train.hashSplit(df, col("id"))
    val (tr2, te2) = Train.hashSplit(df, col("id"))
    assert(te.count() === te2.count() && tr.count() === tr2.count())
    assert(tr.count() + te.count() === 2000)
    assert(tr.join(te, Seq("id"), "inner").count() === 0)
    val frac = te.count().toDouble / 2000
    assert(frac > 0.15 && frac < 0.25, s"test fraction $frac")
  }

  test("H3 scaler: train-fit transform has ~zero mean and ~unit variance on train") {
    val m = Train.modelMatrix(mk(1000), feats)
    val scaled = Train.fitScaler(m).transform(m)
    val arrs = scaled.select(Train.ScaledCol).collect().map(_.getAs[Vector](0))
    (0 until 2).foreach { j =>
      val xs = arrs.map(_(j))
      val mean = xs.sum / xs.length
      val variance = xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1)
      assert(math.abs(mean) < 1e-9, s"mean j=$j $mean")
      assert(math.abs(variance - 1.0) < 1e-6, s"var j=$j $variance")
    }
  }

  test("H4 pcaByVariance: k is minimal for the threshold; projection has k dims") {
    // x2 ≈ x1 (one strong factor) + independent x3 → 95% needs 2 of 3 comps
    val df = (0 until 800).map { i =>
      val a = math.sin(i * 0.37) * 2
      val b = math.cos(i * 1.13)
      (i.toLong, a, a + 0.05 * b, b, 0)
    }.toDF("id", "x1", "x2", "x3", "influenza_a_detected")
    val m = Train.modelMatrix(df, Seq("x1", "x2", "x3"))
    val scaled = Train.fitScaler(m).transform(m).cache()
    val pca = Train.pcaByVariance(scaled)
    val cum = pca.explained.scanLeft(0.0)(_ + _).tail
    assert(cum(pca.k - 1) >= 0.95)
    assert(pca.k == 1 || cum(pca.k - 2) < 0.95, s"k=${pca.k} not minimal: ${cum.toSeq}")
    val v = pca.transform(scaled).select(Train.PcaCol).head().getAs[Vector](0)
    assert(v.size === pca.k)
    scaled.unpersist()
  }

  test("H6 OLS scorer: clip bounds the score and threshold sets the class") {
    val m = Train.modelMatrix(mk(1200), feats).cache()
    val (tr, te) = Train.hashSplit(m, col("id"))
    val scored = Train.fitScoreOls(tr, te, Train.FeaturesCol).cache()
    val bounds = scored.agg(min("score"), max("score")).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
    // label is a clean threshold of x1 + 0.1*x2 → OLS separates it well
    assert(Metrics.accuracy(scored) > 0.9)
    val bad = scored.filter((col("score") > 0.5) =!= (col("prediction") === 1.0)).count()
    assert(bad === 0)
    scored.unpersist(); m.unpersist()
  }

  test("H14 persistence: GBT save → load roundtrip scores identically") {
    import org.apache.spark.ml.classification.GBTClassificationModel
    import org.apache.spark.ml.functions.vector_to_array
    // train-once-serve-everywhere is the production shape: the fitted
    // model must survive the filesystem roundtrip bit-identically — a
    // drifted tree or a lost threshold would silently shift every score
    val m = Train.modelMatrix(mk(400), feats).cache()
    val fitted = Train.gbtEstimator(Train.FeaturesCol).fit(m)
    val dir = System.getProperty("java.io.tmpdir") +
      s"/graft_gbt_${java.util.UUID.randomUUID}"
    fitted.write.overwrite().save(dir)
    val loaded = GBTClassificationModel.load(dir)
    def scores(model: GBTClassificationModel) =
      model.transform(m)
        .select(col("id"), vector_to_array(col("probability")).getItem(1).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = scores(fitted)
    val b = scores(loaded)
    assert(a.size === 400)
    assert(a.keySet.forall(k => a(k) == b(k)),
      "loaded model must reproduce every score bit-identically")
    m.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("L80 pinned quality LR: refit reproduces the frozen coefficients; frozen scores = model scores") {
    import org.apache.spark.ml.functions.vector_to_array
    // (1) the frozen model IS the declared fit: refitting the exact
    // estimator on the exact fixture must land on the pinned values — a
    // drifted feature definition, changed hyperparameter, or altered weak
    // label shows up here as a coefficient mismatch
    val sf = "/root/testdata/sf0.001"
    val quality = graft.queries.LlmQueries.qualityMetricsFrameFor(spark, sf)
    val refit = PinnedQualityLr.fit(quality)
    assert(math.abs(refit.intercept - PinnedQualityLr.Intercept) < 1e-6,
      s"intercept drifted: ${refit.intercept} vs pinned ${PinnedQualityLr.Intercept}")
    refit.coefficients.toArray.zip(PinnedQualityLr.Weights).zip(PinnedQualityLr.FeatureCols)
      .foreach { case ((got, pinned), name) =>
        assert(math.abs(got - pinned) <= 1e-6 * math.max(1.0, math.abs(pinned)),
          s"$name drifted: $got vs pinned $pinned")
      }
    // (2) score identity: the frozen-literal sigmoid the declared l80 query
    // (and its DuckDB oracle) computes must equal the MLlib model's own
    // P(class 1) — proving the pinned literals and the model are ONE model,
    // not two approximations of each other
    val feats = PinnedQualityLr.featureFrame(quality)
    val frozen = feats.select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-PinnedQualityLr.margin))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(PinnedQualityLr.FeatureCols.toArray).setOutputCol("features")
      .transform(feats)
    val modelScores = refit.transform(assembled)
      .select(col("doc_id"), vector_to_array(col("probability")).getItem(1).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(frozen.size === 500 && modelScores.size === 500)
    frozen.foreach { case (id, s) =>
      assert(math.abs(s - modelScores(id)) < 1e-7,
        s"doc $id: frozen sigmoid $s vs model ${modelScores(id)}")
    }
    // (3) the classifier is non-degenerate on its own training corpus:
    // both decisions fire, and it agrees with the weak label far above
    // chance (it trained on exactly this proxy)
    val l80 = graft.queries.LlmQueries.l80_quality_classifier.fn(spark, sf)
      .select("label", "wiki_like")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(l80.exists(_._2 == 1L) && l80.exists(_._2 == 0L),
      "both decisions must observably fire on the fixture")
    val agree = l80.count { case (l, w) => l == w }.toDouble / l80.length
    assert(agree > 0.75, s"classifier agrees with its weak label only $agree")
  }
}
