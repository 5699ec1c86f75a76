package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ml.Metrics

/** The SQL-expressible half of the EP3 ML pipeline (SURVEY §2 H6, H8-H11)
  * declared as oracle-checked queries — so the metric math itself is
  * hash-verified against an independent engine, not just property-tested.
  * h8-h11 and h18 evaluate through [[graft.ml.Metrics]] (confusion counts,
  * the threshold sweep, the per-class report): the oracle checks the code
  * EP3 runs, not a parallel copy. The model-fitting half (H1-H5, H7, H12:
  * assembler, splits, scaler, PCA, GBT) is exercised by the scalatest
  * golden suite instead — tree ensembles aren't SQL.
  *
  * All of them run over one deterministic scored frame derived from lineitem:
  *   score  = (price-cents mod 1000) / 1000            — pseudo-uniform
  *   label  = [(31·l_partkey + l_suppkey) mod 1000 < price-cents mod 1000]
  * so P(label=1 | score) = score: a perfectly calibrated scorer with
  * AUC ≈ 0.75, dense tie groups (1000 distinct thresholds), and both
  * classes populated — a real workout for rank statistics, exactly
  * reproducible in DuckDB integer arithmetic.
  */
object MlQueries {

  /** The shared scored frame: (key, x, label) + an OLS refit of label~x.
    * l_extendedprice is DOUBLE, so cents go through an explicit floor() —
    * Spark's double→long cast truncates while DuckDB's rounds; floor is
    * IEEE-identical in both. */
  private val scoredSql =
    """SELECT l_orderkey * 10 + l_linenumber AS key,
      |       (CAST(floor(l_extendedprice * 100) AS BIGINT) % 1000) / 1000.0 AS x,
      |       CAST((31 * l_partkey + l_suppkey) % 1000
      |            < CAST(floor(l_extendedprice * 100) AS BIGINT) % 1000 AS BIGINT) AS label
      |FROM lineitem""".stripMargin

  private def scored(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100).cast("long")
    lineitem(s, d).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("key"),
      ((cents % 1000) / lit(1000.0)).as("x"),
      ((col("l_partkey") * 31 + col("l_suppkey")) % 1000 < cents % 1000)
        .cast("long").as("label"))
  }

  /** The closed-form OLS fit over the scored frame — slope = cov/var,
    * intercept from the means — as ONE aggregate producing a 1-row (b, a)
    * frame for broadcasting back over the rows; the oracle's shared CTE
    * `f` states the same regr_slope/regr_intercept. */
  private def olsFit(sc: DataFrame): DataFrame =
    sc.agg(
      (covar_pop(col("label"), col("x")) / var_pop(col("x"))).as("b"),
      avg("label").as("ybar"), avg("x").as("xbar"))
      .select(col("b"), (col("ybar") - col("b") * col("xbar")).as("a"))

  /** The scored frame with the OLS fit broadcast back and its score
    * yhat = a + b·x: the one definition h6, h8, h11, h15, h16 and h18
    * read, so no two of them can score differently. */
  private def olsScored(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val sc = scored(s, d)
    sc.crossJoin(broadcast(olsFit(sc)))
      .withColumn("yhat", col("a") + col("b") * col("x"))
  }

  /** (label, prediction) at the reference's 0.5 cut (codes.py:258-261):
    * the input `Metrics.confusion` reads for h8, h11 and h18. */
  private def olsPredicted(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    olsScored(s, d).select(col("label"), (col("yhat") > 0.5).cast("long").as("prediction"))

  /** Spark's `round(x, 6)` (HALF_UP on the decimal expansion) for a metric
    * computed on the driver; an undefined (non-finite) metric is None, the
    * SQL null a zero denominator gives with ANSI off. */
  private def r6(x: Double): Option[Double] =
    if (x.isNaN || x.isInfinite) None
    else Some(BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Unpersist and forget every shared query frame (MlQueries itself
    * holds none) — a forwarder to the one eviction routine,
    * [[Shared.clear]], kept for callers that clear every hook. */
  def clearStatsCache(): Unit = Shared.clear()

  /** H6+H7 (codes.py:227,258-261): OLS-as-scorer — single-feature least
    * squares fit as a closed-form aggregate (slope = cov/var), scored with
    * prob = clip(ŷ,0,1), class = ŷ > 0.5. The fit is pure plan: one agg,
    * broadcast back over the rows — no driver collect, no iteration. */
  val h6_ols_scorer = Q(
    "h6_ols_scorer",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s)
       |SELECT key,
       |       round(least(greatest(a + b * x, 0.0), 1.0), 6) AS proba,
       |       CAST(a + b * x > 0.5 AS BIGINT) AS pred
       |FROM s, f ORDER BY key""".stripMargin
  ) { (s, d) =>
    olsScored(s, d)
      .select(col("key"),
        round(least(greatest(col("yhat"), lit(0.0)), lit(1.0)), 6).as("proba"),
        (col("yhat") > 0.5).cast("long").as("pred"))
      .orderBy("key")
  }

  /** H8 (codes.py:268): `Metrics.accuracy` of the confusion counts of the
    * OLS predictions (threshold at 0.5 like the reference). */
  val h8_accuracy = Q(
    "h8_accuracy",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s)
       |SELECT round(avg(CAST(CAST(a + b * x > 0.5 AS BIGINT) = label AS DOUBLE)), 6) AS accuracy,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM s, f""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val cm = Metrics.confusion(olsPredicted(s, d))
    Seq((r6(Metrics.accuracy(cm)), cm.map(_.sum).sum)).toDF("accuracy", "n")
  }

  /** The threshold sweep over (label, score = x) that h9 and h10 report. */
  private def xSweep(s: org.apache.spark.sql.SparkSession, d: String): Metrics.Sweep =
    Metrics.sweep(scored(s, d).select(col("label"), col("x").as("score")))

  /** H9 (codes.py:272): exact ROC-AUC. Spark side: `Metrics.sweep` (no
    * single-task global sort); oracle: the tie-corrected Mann-Whitney
    * average-rank identity, which equals trapezoidal AUC over all distinct
    * thresholds. */
  val h9_roc_auc = Q(
    "h9_roc_auc",
    s"""WITH s AS ($scoredSql),
       |r AS (SELECT label,
       |             RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS ar
       |      FROM s),
       |t AS (SELECT sum(CASE WHEN label = 1 THEN ar END) AS rp,
       |             sum(label) AS p, count(*) - sum(label) AS n
       |      FROM r)
       |SELECT round((rp - p * (p + 1) / 2.0) / (p * n), 6) AS roc_auc,
       |       CAST(p AS BIGINT) AS positives, CAST(n AS BIGINT) AS negatives
       |FROM t""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val sw = xSweep(s, d)
    Seq((r6(sw.auc), sw.pos, sw.neg)).toDF("roc_auc", "positives", "negatives")
  }

  /** H10 (codes.py:273): sklearn STEP-WISE average precision
    * Σ (np_s/P)·precision_s over thresholds descending — not the
    * interpolated areaUnderPR — from `Metrics.sweep`. */
  val h10_avg_precision = Q(
    "h10_avg_precision",
    s"""WITH s AS ($scoredSql),
       |g AS (SELECT x, sum(label) AS np, count(*) AS n FROM s GROUP BY 1),
       |c AS (SELECT np,
       |             sum(np) OVER (ORDER BY x DESC) AS tp,
       |             sum(n) OVER (ORDER BY x DESC) AS tot
       |      FROM g),
       |p AS (SELECT sum(np) AS pos FROM g)
       |SELECT round(sum(np * 1.0 / pos * tp / tot), 6) AS avg_precision,
       |       CAST(pos AS BIGINT) AS positives
       |FROM c, p GROUP BY pos""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val sw = xSweep(s, d)
    Seq((r6(sw.ap), sw.pos)).toDF("avg_precision", "positives")
  }

  /** H11 (codes.py:293-296): per-class precision/recall/F1/support — the
    * classification_report rows of `Metrics.report` over the confusion
    * counts of the OLS predictions, rounded at 6 dp; an undefined metric
    * (zero denominator) is null. */
  val h11_class_report = Q(
    "h11_class_report",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s),
       |p AS (SELECT label, CAST(a + b * x > 0.5 AS BIGINT) AS pred FROM s, f),
       |cm AS (SELECT sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn,
       |              sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
       |              sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
       |              sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp
       |       FROM p)
       |SELECT 0 AS class, round(tn * 1.0 / (tn + fn), 6) AS precision,
       |       round(tn * 1.0 / (tn + fp), 6) AS recall,
       |       round(2.0 * tn / (tn + fn) * tn / (tn + fp) / (tn * 1.0 / (tn + fn) + tn * 1.0 / (tn + fp)), 6) AS f1,
       |       CAST(tn + fp AS BIGINT) AS support FROM cm
       |UNION ALL
       |SELECT 1, round(tp * 1.0 / (tp + fp), 6),
       |       round(tp * 1.0 / (tp + fn), 6),
       |       round(2.0 * tp / (tp + fp) * tp / (tp + fn) / (tp * 1.0 / (tp + fp) + tp * 1.0 / (tp + fn)), 6),
       |       CAST(fn + tp AS BIGINT) FROM cm
       |ORDER BY class""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Metrics.report(Metrics.confusion(olsPredicted(s, d)))
      .map(c => (c.label.toLong, c.precision.flatMap(r6), c.recall.flatMap(r6),
        c.f1.flatMap(r6), c.support))
      .toDF("class", "precision", "recall", "f1", "support")
  }

  /** H13: deterministic k-fold assignment — md5(key) mod k, the
    * cross-validation split machinery at scale: reproducible across runs,
    * engines and partitionings (unlike `randomSplit`, whose assignment
    * depends on partition layout), leakage-free by construction (a key
    * lands in exactly one fold), and pure map-side arithmetic — no
    * shuffle until the per-fold balance aggregate. The declared output is
    * the per-fold (count, positives) balance table the H2 stratification
    * argument rests on. */
  val h13_cv_folds = Q(
    "h13_cv_folds", {
      // value of the first 8 md5 hex chars, decoded per digit (the l17
      // cross-engine decode): Σ d_i · 16^(8-i)
      val hexVal = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString(" + ")
      s"""WITH s AS ($scoredSql),
         |k AS (SELECT key, label, md5(CAST(key AS VARCHAR)) AS h FROM s),
         |f AS (SELECT key, label, CAST($hexVal AS BIGINT) % 5 AS fold FROM k)
         |SELECT CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(label) AS BIGINT) AS n_pos
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    }
  ) { (s, d) =>
    val h = md5(col("key").cast("string").cast("binary"))
    // first 8 hex chars < 2^32: always positive in a long, so % ≡ pmod
    val fold = conv(substring(h, 1, 8), 16, 10).cast("long") % 5
    scored(s, d)
      .withColumn("fold", fold)
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), sum("label").as("n_pos"))
      .orderBy("fold")
  }

  /** H15: regression metrics for the OLS scorer — MAE, RMSE, Brier score
    * (= MSE of the clamped probability against the 0/1 label) and R²,
    * completing the metric surface (h8 thresholded accuracy, h9 ranking
    * AUC, h10 precision mass, h11 per-class report all score the
    * DISCRETIZED prediction; these score the raw probability, which is
    * what a calibration-sensitive consumer — l86's bins, a reweighting
    * stage — actually uses).
    *
    * Determinism: per-row errors use the identical (a,b,clamp) trees the
    * h6 family shares; |e|, e², and the mean-deviation squares are
    * rounded at 12 dp and summed as DECIMAL(28,12) — order-independent
    * exact addition, so the only cross-engine wobble left is the fit's
    * own covar/var aggregation, absorbed by the 6-dp output rounding and
    * the checker's float tolerance (the h8/h9 posture). n is the one
    * integer output and derives from count(*).
    *
    * 100 TB posture: ONE map-combinable aggregate over the scored frame
    * (the fit broadcast back, the d6 single-pass shape); no window, no
    * sort, no second scan. */
  val h15_regression_metrics = Q(
    "h15_regression_metrics",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s),
       |p AS (SELECT label, least(greatest(a + b * x, 0.0), 1.0) AS proba FROM s, f),
       |m AS (SELECT avg(label) AS ybar FROM p),
       |agg AS (SELECT count(*) AS n,
       |          sum(CAST(round(abs(label - proba), 12) AS DECIMAL(28,12))) AS sae,
       |          sum(CAST(round((label - proba) * (label - proba), 12)
       |                   AS DECIMAL(28,12))) AS sse,
       |          sum(CAST(round((label - m.ybar) * (label - m.ybar), 12)
       |                   AS DECIMAL(28,12))) AS sst
       |        FROM p, m)
       |SELECT CAST(n AS BIGINT) AS n,
       |       round(CAST(sae AS DOUBLE) / n, 6) AS mae,
       |       round(sqrt(CAST(sse AS DOUBLE) / n), 6) AS rmse,
       |       round(CAST(sse AS DOUBLE) / n, 6) AS brier,
       |       round(1 - CAST(sse AS DOUBLE) / CAST(sst AS DOUBLE), 6) AS r2
       |FROM agg""".stripMargin
  ) { (s, d) =>
    val ybar = scored(s, d).agg(avg("label")).collect()(0).getDouble(0)
    val proba = least(greatest(col("yhat"), lit(0.0)), lit(1.0))
    val err = col("label") - proba
    val dev = col("label") - lit(ybar)
    val dec = (c: org.apache.spark.sql.Column) =>
      sum(round(c, 12).cast("decimal(28,12)"))
    olsScored(s, d)
      .agg(count(lit(1)).as("n"), dec(abs(err)).as("sae"),
        dec(err * err).as("sse"), dec(dev * dev).as("sst"))
      .select(col("n"),
        round(col("sae").cast("double") / col("n"), 6).as("mae"),
        round(sqrt(col("sse").cast("double") / col("n")), 6).as("rmse"),
        round(col("sse").cast("double") / col("n"), 6).as("brier"),
        round(lit(1) - col("sse").cast("double") / col("sst").cast("double"), 6)
          .as("r2"))
  }

  /** H16: decile lift / gains table over the OLS scores — the targeting
    * artifact beside h9's AUC and h10's AP: rank the population by score,
    * cut into 10 equal-depth deciles, and report per decile the response
    * rate and the CUMULATIVE lift (top-k deciles' rate over the base
    * rate) — "mail the top 2 deciles" decisions read exactly this table,
    * and a model whose AUC moved but whose top-decile lift didn't has
    * drifted where it doesn't matter.
    *
    * Scale posture: NO corpus-wide rank window. The score takes ≤ 1000
    * distinct values (x is a 3-digit fraction and proba is monotone in
    * x), so the global rank decomposes as cumulative-count-of-greater-
    * values (a ≤1000-row VALUE-grid cumulative — the l131 grid idiom,
    * metadata-sized, the l51 documented exception class) plus a
    * row_number PARTITIONED by value (tie-broken by key) — every
    * corpus-scale exchange is hash-partitioned. Decile boundaries use
    * exact integer division ((rank−1)·10 div n), never float floor, so
    * the cut is engine-exact; lift multiplies integers before the one
    * rounded division. */
  val h16_lift_table = Q(
    "h16_lift_table",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s),
       |pr AS (SELECT key, label,
       |         round(least(greatest(a + b * x, 0.0), 1.0), 6) AS proba
       |       FROM s, f),
       |tot AS (SELECT count(*) AS n, sum(label) AS p FROM pr),
       |rk AS (SELECT label, row_number() OVER (ORDER BY proba DESC, key) AS rk
       |       FROM pr),
       |dd AS (SELECT ((rk - 1) * 10) // (SELECT n FROM tot) + 1 AS decile, label
       |       FROM rk),
       |g AS (SELECT decile, count(*) AS n_d, sum(label) AS pos_d FROM dd GROUP BY 1),
       |c AS (SELECT decile, n_d, pos_d,
       |        sum(n_d) OVER (ORDER BY decile) AS cum_n,
       |        sum(pos_d) OVER (ORDER BY decile) AS cum_pos
       |      FROM g)
       |SELECT CAST(decile AS BIGINT) AS decile,
       |       CAST(n_d AS BIGINT) AS n,
       |       CAST(pos_d AS BIGINT) AS positives,
       |       round(pos_d * 1.0 / n_d, 6) AS resp_rate,
       |       round(cum_pos * (SELECT n FROM tot) * 1.0
       |             / (cum_n * (SELECT p FROM tot)), 6) AS cum_lift
       |FROM c ORDER BY decile""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pr = olsScored(s, d)
      .select(col("key"), col("label"),
        round(least(greatest(col("yhat"), lit(0.0)), lit(1.0)), 6).as("proba"))
    // value-grid cumulative: rows with a strictly GREATER score (score
    // DESC order) — <=1000 metadata rows, the documented exception class
    val grid = pr.groupBy("proba").agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("proba").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumb = grid.select(col("proba"),
      coalesce(sum("c").over(wv), lit(0L)).as("cumb"))
    val wpk = Window.partitionBy("proba").orderBy("key")
    val tot = pr.agg(count(lit(1)).as("n"), sum("label").as("p"))
    val ranked = pr.join(cumb, Seq("proba"))
      .withColumn("rk", col("cumb") + row_number().over(wpk))
      .crossJoin(broadcast(tot))
      .select(col("label"),
        (expr("((rk - 1) * 10) div n") + 1).as("decile"),
        col("n"), col("p"))
    val wd = Window.orderBy("decile")
    ranked.groupBy("decile", "n", "p")
      .agg(count(lit(1)).as("n_d"), sum("label").as("pos_d"))
      .select(col("decile"), col("n_d"), col("pos_d"), col("n"), col("p"),
        sum("n_d").over(wd).as("cum_n"), sum("pos_d").over(wd).as("cum_pos"))
      .select(col("decile"),
        col("n_d").as("n"),
        col("pos_d").as("positives"),
        round(col("pos_d").cast("double") / col("n_d"), 6).as("resp_rate"),
        round(col("cum_pos") * col("n") * lit(1.0) /
          (col("cum_n") * col("p")), 6).as("cum_lift"))
      .orderBy("decile")
  }

  /** H17: Brier score with the GENERALIZED Murphy decomposition —
    * reliability − resolution + uncertainty plus the two continuous-
    * forecast extras, within-bin variance and −2·within-bin covariance
    * (Murphy 1973; Stephenson, Coelho & Jolliffe 2008) — the forecast-
    * verification row beside l86's calibration curve: l86 SHOWS the
    * reliability diagram, this SCORES it, splitting the h15 brier into
    * "how miscalibrated" (reliability), "how much the forecast separates
    * outcomes" (resolution — the only term a better model can improve),
    * and the outcome's own entropy (uncertainty — the floor no model
    * beats). The two extra terms make the five-way identity EXACT for
    * continuous forecasts, where the classic three-term form silently
    * mis-adds (the 2008 paper's point); GoldenSpec pins the identity.
    *
    * Determinism: bins cut on the EXACT score x (= cents/1000, ≤1000
    * distinct values — the h16 precedent; binning the OLS proba would
    * put engine-wobbly floats on a floor() boundary), so every bin count
    * is engine-exact; per-bin Σx, Σx², Σxy accumulate as
    * round(·,12)-into-DECIMAL(28,12) (order-free, the h15 discipline);
    * bin means divide identical operands, the ≤10 per-bin float terms
    * fold through the same decimal discipline, and the one-row output
    * rounds at 6 dp.
    *
    * 100 TB posture: ONE map-combinable groupBy over the scored frame
    * (10 bins), then metadata-row arithmetic — no window, no sort, no
    * second scan. */
  val h17_brier_decomposition = Q(
    "h17_brier_decomposition",
    s"""WITH s AS ($scoredSql),
       |b AS (SELECT CAST(least(floor(x * 10), 9) AS BIGINT) AS bin, x, label
       |      FROM s),
       |pb AS (SELECT bin, count(*) AS nk,
       |         sum(CAST(round(x, 12) AS DECIMAL(28,12))) AS sx,
       |         sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS sq,
       |         sum(CASE WHEN label = 1
       |               THEN CAST(round(x, 12) AS DECIMAL(28,12))
       |               ELSE CAST(0 AS DECIMAL(28,12)) END) AS sxy,
       |         sum(label) AS sy
       |       FROM b GROUP BY 1),
       |g AS (SELECT sum(nk) AS n, sum(sy) AS y,
       |        sum(sq) AS gsq, sum(sxy) AS gsxy
       |      FROM pb),
       |t AS (SELECT pb.bin, pb.nk, g.n, g.y * 1.0 / g.n AS ybar,
       |        CAST(pb.sx AS DOUBLE) / pb.nk AS fbar,
       |        pb.sy * 1.0 / pb.nk AS obar,
       |        CAST(pb.sq AS DOUBLE) AS sq, CAST(pb.sxy AS DOUBLE) AS sxy
       |      FROM pb CROSS JOIN g),
       |terms AS (SELECT n, ybar,
       |            sum(CAST(round(nk * (fbar - obar) * (fbar - obar), 12)
       |                     AS DECIMAL(28,12))) AS rel,
       |            sum(CAST(round(nk * (obar - ybar) * (obar - ybar), 12)
       |                     AS DECIMAL(28,12))) AS res,
       |            sum(CAST(round(sq - nk * fbar * fbar, 12)
       |                     AS DECIMAL(28,12))) AS wbv,
       |            sum(CAST(round(sxy - nk * fbar * obar, 12)
       |                     AS DECIMAL(28,12))) AS wbc
       |          FROM t GROUP BY n, ybar)
       |SELECT CAST(n AS BIGINT) AS n, round(ybar, 6) AS base_rate,
       |       round((CAST((SELECT gsq FROM g) AS DOUBLE)
       |              - 2 * CAST((SELECT gsxy FROM g) AS DOUBLE)
       |              + (SELECT y FROM g)) / n, 6) AS brier,
       |       round(CAST(rel AS DOUBLE) / n, 6) AS reliability,
       |       round(CAST(res AS DOUBLE) / n, 6) AS resolution,
       |       round(ybar * (1.0 - ybar), 6) AS uncertainty,
       |       round(CAST(wbv AS DOUBLE) / n, 6) AS wb_var,
       |       round(CAST(wbc AS DOUBLE) / n, 6) AS wb_cov
       |FROM terms""".stripMargin
  ) { (s, d) => brierDecomposition(scored(s, d)) }

  /** h17's engine over any (x ∈ [0,1), label ∈ {0,1}) frame — factored
    * for GoldenSpec's hand fixture (one row per bin ⇒ wb terms vanish
    * and the classic three-term identity reappears) and the five-way
    * identity law brier = rel − res + unc + wbv − 2·wbc. */
  private[graft] def brierDecomposition(sc: DataFrame): DataFrame = {
    val dec12 = (c: org.apache.spark.sql.Column) =>
      round(c, 12).cast("decimal(28,12)")
    val b = sc.select(
      least(floor(col("x") * 10), lit(9.0)).cast("long").as("bin"),
      col("x"), col("label"))
    val pb = b.groupBy("bin").agg(count(lit(1)).as("nk"),
      sum(dec12(col("x"))).as("sx"),
      sum(dec12(col("x") * col("x"))).as("sq"),
      sum(when(col("label") === 1, dec12(col("x")))
        .otherwise(lit(0).cast("decimal(28,12)"))).as("sxy"),
      sum("label").as("sy"))
    val g = pb.agg(sum("nk").as("n"), sum("sy").as("y"),
      sum("sq").as("gsq"), sum("sxy").as("gsxy"))
    val fbar = col("sx").cast("double") / col("nk")
    val obar = col("sy") * lit(1.0) / col("nk")
    val ybar = col("y") * lit(1.0) / col("n")
    val terms = pb.crossJoin(broadcast(g))
      .groupBy(col("n"), ybar.as("ybar"), col("gsq"), col("gsxy"), col("y"))
      .agg(
        sum(dec12(col("nk") * (fbar - obar) * (fbar - obar))).as("rel"),
        sum(dec12(col("nk") * (obar - ybar) * (obar - ybar))).as("res"),
        sum(dec12(col("sq").cast("double") - col("nk") * fbar * fbar))
          .as("wbv"),
        sum(dec12(col("sxy").cast("double") - col("nk") * fbar * obar))
          .as("wbc"))
    terms.select(col("n").cast("long").as("n"),
      round(col("ybar"), 6).as("base_rate"),
      round((col("gsq").cast("double") - lit(2) * col("gsxy").cast("double") +
        col("y")) / col("n"), 6).as("brier"),
      round(col("rel").cast("double") / col("n"), 6).as("reliability"),
      round(col("res").cast("double") / col("n"), 6).as("resolution"),
      round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"),
      round(col("wbv").cast("double") / col("n"), 6).as("wb_var"),
      round(col("wbc").cast("double") / col("n"), 6).as("wb_cov"))
  }

  /** H18: Matthews correlation coefficient at the 0.5 cut (Matthews
    * 1975) — the single-number confusion summary the h-family still
    * lacked: H8's accuracy saturates under imbalance and H11's per-class
    * report needs reading, while MCC = (TP·TN − FP·FN)/√(ΠMarginals) is
    * the Pearson correlation of the binary confusion and stays honest
    * at any base rate (the reason bioinformatics and competition
    * leaderboards default to it). Emitted WITH its four exact counts so
    * a reviewer can recompute it by hand.
    *
    * Determinism: the four cells are `Metrics.confusion`'s exact counts
    * off the shared cut (`olsPredicted`: the h6 predicate on the same
    * broadcast fit, so h6/h8/h11/h18 can never silently diverge); the
    * numerator and the four marginals multiply exactly (BigDecimal, the
    * oracle's DECIMAL(38,0)) before the one √ and division, rounded 6 dp
    * (zero marginal ⇒ null, never NaN).
    *
    * 100 TB posture: ONE map-combinable grouped aggregate over the scored
    * frame (≤4 groups) — no window, no second scan. */
  val h18_mcc = Q(
    "h18_mcc",
    s"""WITH s AS ($scoredSql),
       |f AS (SELECT regr_slope(label, x) AS b, regr_intercept(label, x) AS a FROM s),
       |p AS (SELECT label, CAST(a + b * x > 0.5 AS BIGINT) AS pred FROM s, f),
       |c AS (SELECT
       |        sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS tp,
       |        sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS fp,
       |        sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END) AS tn,
       |        sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END) AS fn
       |      FROM p)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       |       round(CASE WHEN (tp + fp) * (tp + fn) = 0
       |                    OR (tn + fp) * (tn + fn) = 0 THEN NULL
       |                  ELSE CAST(CAST(tp AS DECIMAL(38,0)) * tn
       |                            - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)
       |                       / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0))
       |                              * (tp + fn) * (tn + fp) * (tn + fn)
       |                              AS DOUBLE)) END, 6) AS mcc
       |FROM c""".stripMargin
  ) { (s, d) => mcc(olsPredicted(s, d)) }

  /** h18's engine over any (label, prediction) ∈ {0,1}² frame — factored
    * for BrierSpec's closed forms (perfect = 1, inverted = −1, one-class
    * marginal = null never NaN). */
  private[graft] def mcc(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    val Array(Array(tn, fp), Array(fn, tp)) = Metrics.confusion(p)
    val marginals = Seq(tp + fp, tp + fn, tn + fp, tn + fn)
    val v =
      if (marginals.contains(0L)) None
      else r6((BigDecimal(tp) * tn - BigDecimal(fp) * fn).toDouble /
        math.sqrt(marginals.map(BigDecimal(_)).product.toDouble))
    Seq((tp, fp, tn, fn, v)).toDF("tp", "fp", "tn", "fn", "mcc")
  }

  val all: Seq[Q] = Seq(
    h6_ols_scorer, h8_accuracy, h9_roc_auc, h10_avg_precision, h11_class_report,
    h13_cv_folds, h15_regression_metrics, h16_lift_table,
    h17_brier_decomposition, h18_mcc)
}
