package graft.ml

import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.feature.{PCA, StandardScaler, StandardScalerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, Vector}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.schema.Nwss

/** EP3 — the reference's ML pipeline (codes.py:183-309) on Spark MLlib.
  *
  * H1  feature matrix + dropna          (codes.py:183-197)
  * H2  deterministic hash split         (codes.py:203-205)
  * H3  StandardScaler fit on TRAIN only (codes.py:208-210)
  * H4  PCA at 95% variance — fit k=14 ONCE, slice columns (codes.py:214-216)
  * H5  GBT: n_estimators=100, lr=0.1, depth=3, logistic (codes.py:226)
  * H6  OLS-as-scorer: prob=clip(ŷ,0,1), class=ŷ>0.5 (codes.py:227,258-261)
  * H7  predict / predict_proba → prediction / score columns
  * H12 4-scenario loop {GBT, OLS} × {raw, PCA} (codes.py:225-309)
  *
  * Everything is `DataFrame => DataFrame`: MLlib fit() runs its own
  * distributed jobs (treeAggregate for scaler/covariance, one job per GBT
  * boosting round); scoring and every metric are DataFrame aggregates.
  */
object Train {

  val FeaturesCol = "features"
  val ScaledCol = "features_scaled"
  val PcaCol = "features_pca"
  val LabelCol = "label_d"

  /** H1: the model matrix — 14 features + label, rows with any null dropped
    * (codes.py:195-197), assembled into a dense vector column. */
  def modelMatrix(df: DataFrame, features: Seq[String] = Nwss.features): DataFrame = {
    val clean = df.na.drop(features :+ Nwss.label)
      .withColumn(LabelCol, col(Nwss.label).cast(DoubleType))
    new VectorAssembler()
      .setInputCols(features.toArray)
      .setOutputCol(FeaturesCol)
      .transform(clean)
  }

  /** H2: deterministic hash split — `pmod(xxhash64(key), nFolds)` picks the
    * test fold. Cross-run/cross-partitioning reproducible (what the golden
    * tests use), stratification holds in expectation since the hash is
    * independent of the label.
    *
    * Keying on a column the input dropped re-plans the input. EP1 drops
    * `sample_id`, yet `hashSplit(m, col("sample_id"))` still resolves it:
    * the analyzer re-threads the column from below the drop, through the
    * dedup's `Deduplicate` as a non-key, so a duplicate group's fold
    * follows `first(sample_id)` of the group. That rewrites the plan under
    * the filter, so the two splits never read a `m.cache()`: each action on
    * them re-runs the lag window, the target-encode aggregate and the dedup
    * from the input (10k-row NWSS fixture, `local[4]`: a one-pass aggregate
    * over the train split ran 5 Spark jobs, 0.59–1.44 s warm, against 2
    * jobs, 0.28–0.53 s, over the cached `m`). The counts stay right: the
    * two splits partition the rows of `m`. Key on a column the input keeps
    * to split a cached frame. */
  def hashSplit(df: DataFrame, key: Column, nFolds: Int = 5, testFold: Int = 0,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val fold = pmod(xxhash64(key, lit(seed)), lit(nFolds.toLong))
    (df.filter(fold =!= testFold), df.filter(fold === testFold))
  }

  /** H3: standardization fit on train ONLY (codes.py:208-210). withMean
    * centers like sklearn; sklearn's ddof=0 vs MLlib's ddof=1 σ differ by
    * √(n/(n−1)) — immaterial at n≈10⁵ (SURVEY §2.H3). */
  def fitScaler(train: DataFrame, in: String = FeaturesCol,
      out: String = ScaledCol): StandardScalerModel =
    new StandardScaler().setWithMean(true).setWithStd(true)
      .setInputCol(in).setOutputCol(out).fit(train)

  /** H4: PCA keeping ≥95% cumulative explained variance. Fit ONCE at full
    * width, then slice the first k loading columns (column-major layout) —
    * no second fit (SURVEY §7.5-5). Input must already be centered (H3),
    * matching sklearn PCA's internal centering. */
  final case class PcaByVariance(k: Int, explained: Array[Double], loadings: DenseMatrix) {
    def transform(df: DataFrame, in: String = ScaledCol, out: String = PcaCol): DataFrame = {
      val p = loadings
      val project = udf { v: Vector => p.transpose.multiply(new DenseVector(v.toArray)): Vector }
      df.withColumn(out, project(col(in)))
    }
  }

  def pcaByVariance(train: DataFrame, in: String = ScaledCol,
      varThreshold: Double = 0.95): PcaByVariance = {
    val nf = train.select(in).head().getAs[Vector](0).size
    val model = new PCA().setK(nf).setInputCol(in).setOutputCol("__pca_full").fit(train)
    val ev = model.explainedVariance.toArray
    val cum = ev.scanLeft(0.0)(_ + _).tail
    val k = cum.indexWhere(_ >= varThreshold) + 1 match {
      case 0 => nf // threshold unreachable (rounding): keep all
      case i => i
    }
    val pc = model.pc // nf × nf, column-major: first k columns = first k comps
    val sliced = new DenseMatrix(nf, k, pc.values.slice(0, nf * k))
    PcaByVariance(k, ev, sliced)
  }

  /** H5+H7: GBT fit + score. sklearn GradientBoostingClassifier defaults
    * (n_estimators=100, learning_rate=0.1, max_depth=3, deviance loss) →
    * GBTClassifier equivalents; parity is metric-level, not per-tree
    * (different tree builders, SURVEY §2.H5). Output: `prediction` 0/1 and
    * `score` = P(class 1). */
  /** The H5 estimator with the scenario configuration, exposed on its own
    * so model-persistence tooling (save → load → serve, TrainSpec H14)
    * trains the EXACT estimator the scenarios use. */
  def gbtEstimator(featuresCol: String, seed: Long = 42L): GBTClassifier =
    new GBTClassifier()
      .setMaxIter(100).setStepSize(0.1).setMaxDepth(3)
      .setLossType("logistic")
      .setFeaturesCol(featuresCol).setLabelCol(LabelCol)
      .setSeed(seed)

  def fitScoreGbt(train: DataFrame, test: DataFrame, featuresCol: String,
      seed: Long = 42L): DataFrame = {
    gbtEstimator(featuresCol, seed).fit(train).transform(test)
      .withColumn("score", vector_to_array(col("probability")).getItem(1))
      .select(col(LabelCol).as("label"), col("prediction"), col("score"))
  }

  /** H6+H7: OLS-as-scorer — plain least squares on the 0/1 label via the
    * normal equation (deterministic, like sklearn LinearRegression), then
    * prob = clip(ŷ, 0, 1) and class = ŷ > 0.5 (codes.py:258-261). */
  def fitScoreOls(train: DataFrame, test: DataFrame, featuresCol: String): DataFrame = {
    val lr = new LinearRegression()
      .setRegParam(0.0).setElasticNetParam(0.0).setSolver("normal")
      .setFeaturesCol(featuresCol).setLabelCol(LabelCol)
    val raw = lr.fit(train).transform(test)
    raw.select(
      col(LabelCol).as("label"),
      (col("prediction") > 0.5).cast(DoubleType).as("prediction"),
      least(greatest(col("prediction"), lit(0.0)), lit(1.0)).as("score"))
  }

  /** One scenario row of the reference's comparison table (codes.py:309). */
  final case class Scenario(model: String, dataset: String,
      accuracy: Double, rocAuc: Double, averagePrecision: Double)

  /** H12: the 4-scenario loop {GradientBoosting, LinearRegression} ×
    * {raw-scaled, PCA}. Returns the metric table plus the scored
    * LinearRegression/raw test frame (the one the reference details with a
    * classification report + confusion matrix, codes.py:293-296).
    *
    * CACHE CONTRACT: the returned scored frame is left `.cache()`d (its
    * metrics were just computed from it and the caller immediately derives
    * the confusion matrix / report from it) — the CALLER unpersists it when
    * done (see Calibrate; GoldenSpec holds it for the suite lifetime by
    * design). All intermediate train/test cache entries are released here. */
  def runScenarios(trainRaw: DataFrame, testRaw: DataFrame,
      seed: Long = 42L): (Seq[Scenario], DataFrame) = {
    val scaler = fitScaler(trainRaw)
    val train = scaler.transform(trainRaw).cache()
    val test = scaler.transform(testRaw).cache()
    val pca = pcaByVariance(train)
    val trainP = pca.transform(train).cache()
    val testP = pca.transform(test).cache()

    def metricsOf(scored: DataFrame): (Double, Double, Double) = {
      val s = scored.cache()
      try (Metrics.accuracy(s), Metrics.rocAuc(s), Metrics.averagePrecision(s))
      finally s.unpersist()
    }

    val gbRaw = metricsOf(fitScoreGbt(train, test, ScaledCol, seed))
    val olsRawScored = fitScoreOls(train, test, ScaledCol).cache()
    val olsRaw = (Metrics.accuracy(olsRawScored), Metrics.rocAuc(olsRawScored),
      Metrics.averagePrecision(olsRawScored))
    val gbPca = metricsOf(fitScoreGbt(trainP, testP, PcaCol, seed))
    val olsPca = metricsOf(fitScoreOls(trainP, testP, PcaCol))

    Seq(train, test, trainP, testP).foreach(_.unpersist())
    val table = Seq(
      Scenario("GradientBoosting", "raw", gbRaw._1, gbRaw._2, gbRaw._3),
      Scenario("LinearRegression", "raw", olsRaw._1, olsRaw._2, olsRaw._3),
      Scenario("GradientBoosting", "pca", gbPca._1, gbPca._2, gbPca._3),
      Scenario("LinearRegression", "pca", olsPca._1, olsPca._2, olsPca._3))
    (table, olsRawScored)
  }
}
