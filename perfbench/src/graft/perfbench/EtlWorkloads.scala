package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Features, NwssSynth}
import graft.ml.{Metrics, Train}

/** `etl`: EP1 end to end — CSV scan, `Features.pipeline`, CSV sink. */
final class EtlWorkload(spark: SparkSession, work: String, seed: Long) extends Workload {
  val rows = 40000L
  private val csv = s"$work/nwss"
  private val sink = s"$work/etl-out"
  private lazy val expected = Digest.of(Nwss.reference(NwssSynth.readCsv(spark, csv)))

  def inputRows: Long = rows
  def fixture(): Double = Nwss.writeFixture(spark, Nwss.config(rows, seed), csv)

  def pass(t: Tracer): PassOut = {
    val t0 = System.nanoTime()
    val raw = NwssSynth.readCsv(spark, csv)
    val out = t.span("etl.pipeline")(Features.pipeline(Nwss.TieBreak)(raw))
    t.span("etl.sink")(out.write.mode("overwrite").option("header", "true").csv(sink))
    raw.unpersist()
    val ms = (System.nanoTime() - t0) / 1e6
    val schema = out.schema
    PassOut(Seq(ms), Nil, check = () => Nwss.checkAgainst(expected,
      spark.read.schema(schema).option("header", "true").csv(sink), "etl output"))
  }

  def layerMetrics(t: Tracer, passes: Seq[Int]): Map[String, Double] = Map.empty

  override def breakdown(t: Tracer): Map[String, Double] = Nwss.breakdown(spark, t, csv, work)
}

/** `pipeline`: the reference path from CSV to the metric table, less its
  * two GBT fits. Every step is a public entry point of `graft.etl`,
  * `graft.ml.Train` or `graft.ml.Metrics`: the EP1 pipeline, the model
  * matrix, the hash split, the scaler and PCA fits, and the
  * LinearRegression scenarios on the raw and the PCA features with their
  * metrics and the confusion matrix. `Train.runScenarios` itself adds
  * 2 x 100 boosting rounds (a pass that called it took 114 s on 4 cores),
  * which the run budget cannot hold; the traced breakdown times its GBT
  * estimator. */
final class PipelineWorkload(spark: SparkSession, work: String, seed: Long) extends Workload {
  val rows = 10000L
  private val csv = s"$work/nwss"
  // EP1 of the fixture through the per-stage reference formulation,
  // digested once during set-up, outside every timed span
  private lazy val expected = Digest.of(Nwss.reference(NwssSynth.readCsv(spark, csv)))
  private var readAmp = Seq.empty[Double]

  def inputRows: Long = rows

  def fixture(): Double = {
    val s = Nwss.writeFixture(spark, Nwss.config(rows, seed), csv)
    expected
    s
  }

  def pass(t: Tracer): PassOut = {
    val t0 = System.nanoTime()
    val read0 = Nwss.localFsBytesRead()
    val raw = NwssSynth.readCsv(spark, csv)
    val eng = t.span("etl.pipeline")(Features.pipeline(Nwss.TieBreak)(raw))
    val m = t.span("ml.model_matrix")(Train.modelMatrix(eng).cache())
    val (trainRaw, testRaw) = Train.hashSplit(m, col("sample_id"))
    val scaler = t.span("ml.scaler_fit")(Train.fitScaler(trainRaw))
    val train = scaler.transform(trainRaw).cache()
    val test = scaler.transform(testRaw).cache()
    val pca = t.span("ml.pca_fit")(Train.pcaByVariance(train))
    val scored = Seq("raw" -> Train.ScaledCol, "pca" -> Train.PcaCol).map { case (tag, fc) =>
      val (tr, te) = if (tag == "raw") (train, test) else (pca.transform(train), pca.transform(test))
      val s = t.span(s"ml.ols_fit.$tag")(Train.fitScoreOls(tr, te, fc)).cache()
      tag -> (s, t.span("ml.metrics")((Metrics.accuracy(s), Metrics.rocAuc(s), Metrics.averagePrecision(s))))
    }
    val cm = t.span("ml.confusion")(Metrics.confusion(scored.head._2._1))
    (scored.map(_._2._1) ++ Seq(train, test, m, raw)).foreach(_.unpersist())
    val ms = (System.nanoTime() - t0) / 1e6
    if (t.enabled) readAmp :+= (Nwss.localFsBytesRead() - read0).toDouble / Nwss.csvBytes(csv)
    val table = scored.map { case (tag, (_, (acc, auc, ap))) =>
      Train.Scenario("LinearRegression", tag, acc, auc, ap) }
    PassOut(Seq(ms), Nil, check = () => check(eng, pca.k, table, cm))
  }

  /** EP1's output equals the reference formulation's, so a wrong feature
    * value fails the pass however the models score; PCA keeps between 1
    * and the 14 features; both scenarios beat chance; the confusion
    * matrix is not empty. */
  private def check(eng: DataFrame, k: Int, table: Seq[Train.Scenario],
      cm: Array[Array[Long]]): Seq[String] =
    Nwss.checkAgainst(expected, eng, "EP1 output") ++
      (if (k < 1 || k > 14) Seq(s"pca_k $k outside 1..14") else Nil) ++
      table.filterNot(s => s.rocAuc > 0.6 && s.accuracy > 0.55)
        .map(s => s"${s.model}/${s.dataset} below chance: $s") ++
      (if (cm.flatten.sum <= 0) Seq("empty confusion matrix") else Nil)

  def layerMetrics(t: Tracer, passes: Seq[Int]): Map[String, Double] = {
    def secs(name: String): Double = Stats.median(passes.map(p => t.named(p, name).map(_.seconds).sum))
    def jobs(prefix: String): Double = Stats.median(passes.map(p =>
      t.named(p, prefix).map(s => t.listener.forSpan(s.id).jobs).sum.toDouble))
    Map("io.read_amplification" -> Stats.median(readAmp),
      "ml.model_matrix_s" -> secs("ml.model_matrix"), "ml.scaler_fit_s" -> secs("ml.scaler_fit"),
      "ml.pca_fit_s" -> secs("ml.pca_fit"),
      "ml.ols_fit_s.raw" -> secs("ml.ols_fit.raw"), "ml.ols_fit_s.pca" -> secs("ml.ols_fit.pca"),
      "ml.metrics_s" -> secs("ml.metrics"), "ml.metric_jobs" -> jobs("ml.metrics"),
      "ml.confusion_s" -> secs("ml.confusion"))
  }

  /** EP1 taken apart (`Nwss.breakdown`), then the two GBT fits of
    * `Train.runScenarios`, each in a span of its own: the estimator it
    * uses (`Train.gbtEstimator`) fitted on a pass's scaled and PCA
    * features, with `gbtRounds` boosting rounds instead of its 100 so a
    * traced run ends within its time limit. */
  override def breakdown(t: Tracer): Map[String, Double] =
    Nwss.breakdown(spark, t, csv, work) ++ gbt(t)
  override def breakdownWarmsUp: Boolean = true

  val gbtRounds = 40

  private def gbt(t: Tracer): Map[String, Double] = {
    val m = Train.modelMatrix(Features.pipeline(Nwss.TieBreak)(NwssSynth.readCsv(spark, csv))).cache()
    val (trainRaw, _) = Train.hashSplit(m, col("sample_id"))
    val train = Train.fitScaler(trainRaw).transform(trainRaw).cache()
    val pca = Train.pcaByVariance(train)
    val trainP = pca.transform(train).cache()
    for ((tag, df, fc) <- Seq(("raw", train, Train.ScaledCol), ("pca", trainP, Train.PcaCol)))
      t.span(s"ml.gbt_fit.$tag")(Train.gbtEstimator(fc, seed).setMaxIter(gbtRounds).fit(df))
    Seq(trainP, train, m).foreach(_.unpersist())
    t.drain()
    def secs(name: String): Double = t.named(t.pass, name).map(_.seconds).sum
    Map("ml.pca_k" -> pca.k.toDouble,
      "ml.gbt_fit_s.raw" -> secs("ml.gbt_fit.raw"), "ml.gbt_fit_s.pca" -> secs("ml.gbt_fit.pca"),
      "ml.gbt_jobs" -> t.named(t.pass, "ml.gbt_fit").map(s => t.listener.forSpan(s.id).jobs).sum.toDouble,
      "ml.gbt_ms_per_round" -> (secs("ml.gbt_fit.raw") + secs("ml.gbt_fit.pca")) * 1000 / (2 * gbtRounds))
  }
}
