package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Stats

/** EP1 — the reference's entire ETL/feature-engineering pipeline
  * (codes.py:21-177) as composable `DataFrame => DataFrame` stages.
  *
  * Where pandas mutates one eager frame ~20 times, these stages build ONE
  * lazy LogicalPlan: Catalyst collapses the chained projections
  * (CollapseProject) and the physical plan needs two shuffles (the lag
  * window + dropDuplicates) plus the documented eager scalar collects for
  * the median/mode fills (the reference's own two-pass shape, SURVEY §4.2).
  *
  * Null/tie semantics deliberately preserved (SURVEY §1.4, §4.3):
  *  - label: `NaN > 0 == False` ⇒ null concentration → 0, never null;
  *  - ISO week NaT → −1 while month/dayofweek stay null (asymmetric);
  *  - shift-then-fillna(0) fills BOTH leading rows and null lagged values;
  *  - np.clip propagates NaN (Spark/DuckDB `least` would swallow it);
  *  - the flowpop_lin_missing flag is computed AFTER the fill
  *    (codes.py:39-40) so it is constant 0 — reference bug, preserved;
  *  - pd.cut is right-exclusive with out-of-range/null → null;
  *  - mode tie-breaks to the smallest value, median interpolates.
  */
object Features {

  // --- stage 1 (codes.py:28-31): date parse w/ coercion + date parts -------
  /** `pd.to_datetime(errors='coerce')` ⇒ to_date with ANSI off (null on
    * malformed). weekday() is Mon=0 like pandas .dt.dayofweek. */
  def dateParts(df: DataFrame): DataFrame = df
    .withColumn("sample_collect_date", to_date(col("sample_collect_date")))
    .withColumn("collection_month", month(col("sample_collect_date")))
    .withColumn("collection_week",
      coalesce(weekofyear(col("sample_collect_date")), lit(-1)))
    .withColumn("collection_dayofweek", weekday(col("sample_collect_date")))

  // --- stage 2 (codes.py:34-36): flow_rate missing flag + median fill ------
  /** Flag BEFORE fill (correct order here, unlike stage 3's preserved bug). */
  def imputeFlow(df: DataFrame): DataFrame = {
    val flagged = df.withColumn("flow_rate_missing",
      col("flow_rate").isNull.cast(IntegerType))
    Stats.exactMedian(df, col("flow_rate")) match {
      case Some(m) => flagged.withColumn("flow_rate",
        coalesce(col("flow_rate"), lit(m)))
      case None => flagged
    }
  }

  // --- stage 3 (codes.py:38-43): flowpop median fill + CONSTANT-0 flag -----
  /** B9 conditional schema branch: when the column is absent the flag is a
    * constant 0. When present, the reference computes the flag AFTER the
    * fill — so it is 0 everywhere a fill happened (all-null input being the
    * only case that leaves nulls). Bug preserved for drop-in parity. */
  def imputeFlowpop(df: DataFrame): DataFrame =
    if (df.columns.contains("pcr_target_flowpop_lin")) {
      val filled = Stats.exactMedian(df, col("pcr_target_flowpop_lin")) match {
        case Some(m) => df.withColumn("pcr_target_flowpop_lin",
          coalesce(col("pcr_target_flowpop_lin"), lit(m)))
        case None => df
      }
      filled.withColumn("flowpop_lin_missing",
        col("pcr_target_flowpop_lin").isNull.cast(IntegerType))
    } else df.withColumn("flowpop_lin_missing", lit(0))

  // --- stage 4 (codes.py:46-51): log transforms + the ML label -------------
  /** The label line (codes.py:50) is load-bearing: pandas `NaN > 0` is
    * False, so null concentration MUST yield 0 (SURVEY §1.4-1). */
  def logsAndLabel(df: DataFrame): DataFrame = df
    .withColumn("log_population_served", log1p(col("population_served")))
    .withColumn("log_flow_rate", log1p(col("flow_rate")))
    .withColumn("influenza_a_detected",
      coalesce((col("pcr_target_avg_conc") > 0).cast(IntegerType), lit(0)))
    .withColumn("log_pcr_target_conc", log1p(col("pcr_target_avg_conc")))

  // --- stage 5 (codes.py:55-59): per-jurisdiction lag features --------------
  /** `sort_values + groupby().shift(n) + fillna(0)`. pandas' stable sort
    * keeps file order among equal (jurisdiction, date) keys; Spark needs a
    * deterministic total order, so callers pass unique tiebreak columns
    * (SURVEY §4.3-1). NaT rows sort last, like pandas na_position='last'.
    * coalesce(lag, 0) — NOT lag's default arg — because fillna(0) also
    * fills lagged values that are themselves null.
    *
    * This is the only lag path: one hash shuffle on the jurisdiction and a
    * window sort per key, so parallelism is bounded by the key count (~57
    * NWSS jurisdictions). A skew-proof form needs exact, not sampled,
    * partition boundaries (the `Metrics.refineCuts` pattern) and is not
    * built until a workload shows a skewed key. */
  def lagFeatures(tiebreak: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("wwtp_jurisdiction"))
      .orderBy(col("sample_collect_date").asc_nulls_last +: tiebreak: _*)
    // pandas groupby EXCLUDES NaN keys, so a null-jurisdiction row's shift is
    // NaN → fillna(0); Spark would lag it within the null group — mask it.
    def lagN(n: Int): Column =
      when(col("wwtp_jurisdiction").isNull, lit(0.0))
        .otherwise(coalesce(lag(col("log_pcr_target_conc"), n).over(w), lit(0.0)))
    df.withColumn("log_conc_lag1", lagN(1))
      .withColumn("log_conc_lag2", lagN(2))
  }

  /** Forwards to [[lagFeatures]]. Kept only because the benchmark harness
    * (`perfbench/`) calls it by this name. */
  def lagFeaturesScalable(tiebreak: Seq[Column])(df: DataFrame): DataFrame =
    lagFeatures(tiebreak)(df)

  // --- stage 6 (codes.py:61-63): pd.cut population binning ------------------
  /** right=False ⇒ left-closed bins [0,20k) [20k,50k) [50k,200k) [200k,∞);
    * out-of-range (<0) and null → null (pd.cut semantics). */
  def binPopulation(df: DataFrame): DataFrame = {
    val p = col("population_served")
    df.withColumn("population_group",
      when(p.isNull || p < 0, lit(null).cast(StringType))
        .when(p < 20000L, "Small")
        .when(p < 50000L, "Medium")
        .when(p < 200000L, "Large")
        .otherwise("Very Large"))
  }

  // --- stage 7 (codes.py:67-69): target encoding -----------------------------
  /** Group mean of the label per jurisdiction, broadcast-joined back onto
    * every row; unseen/null jurisdiction → 0.5. Computed over the whole
    * frame pre-split (reference leaks; reproduced as-is). The ≤57-key agg
    * side is always broadcastable at any fact scale. */
  def targetEncode(df: DataFrame): DataFrame = {
    val means = df.filter(col("wwtp_jurisdiction").isNotNull)
      .groupBy("wwtp_jurisdiction")
      .agg(avg(col("influenza_a_detected")).as("jurisdiction_target_mean"))
    df.join(broadcast(means), Seq("wwtp_jurisdiction"), "left")
      .withColumn("jurisdiction_target_mean",
        coalesce(col("jurisdiction_target_mean"), lit(0.5)))
  }

  // --- stage 8 (codes.py:72-79): drop the 12 junk columns -------------------
  /** pandas errors='ignore' ≡ Spark drop (missing cols are a no-op). */
  def dropCols(df: DataFrame): DataFrame =
    df.drop(graft.schema.Nwss.columnsToDrop: _*)

  // --- stage 9 (codes.py:82-87): mode/median fills ---------------------------
  /** pasteurized / pcr_gene_target_agg are existence-guarded (B9);
    * counties_served / lod_sewage are not (the reference would crash if
    * they were absent — we mirror that contract). */
  def imputeModes(df: DataFrame): DataFrame = {
    def modeFill(d: DataFrame, c: String): DataFrame =
      Stats.exactModeString(d, col(c)) match {
        case Some(m) => d.withColumn(c, coalesce(col(c), lit(m)))
        case None => d
      }
    var out = df
    if (out.columns.contains("pasteurized")) out = modeFill(out, "pasteurized")
    out = modeFill(out, "counties_served")
    out = Stats.exactMedian(out, col("lod_sewage")) match {
      case Some(m) => out.withColumn("lod_sewage",
        coalesce(col("lod_sewage"), lit(m)))
      case None => out
    }
    if (out.columns.contains("pcr_gene_target_agg"))
      out = modeFill(out, "pcr_gene_target_agg")
    out
  }

  // --- stage 10 (codes.py:89-93): clip rec_eff_percent to ≤100 ---------------
  /** B9 branch: absent column → constant 0 (double). np.clip propagates
    * NaN, while Spark's `least` ignores nulls — guard explicitly. */
  def clipRecEff(df: DataFrame): DataFrame =
    if (df.columns.contains("rec_eff_percent"))
      df.withColumn("rec_eff_percent",
        when(col("rec_eff_percent").isNull, lit(null).cast(DoubleType))
          .otherwise(least(col("rec_eff_percent"), lit(100.0))))
    else df.withColumn("rec_eff_percent", lit(0.0))

  // --- stage 11 (codes.py:96): exact dedup over all columns ------------------
  /** Rows are fully equal, so pandas keep-first vs Spark keep-arbitrary is
    * immaterial. One hash shuffle over all 39 columns. */
  def dedup(df: DataFrame): DataFrame = df.dropDuplicates()

  // --- stage 12 (codes.py:99-104): ordered-categorical codes -----------------
  /** Small<Medium<Large<Very Large → 0..3, null → −1 (cat.codes). */
  def encodeOrdinal(df: DataFrame): DataFrame = {
    val g = col("population_group")
    df.withColumn("population_group_encoded",
      when(g === "Small", 0).when(g === "Medium", 1)
        .when(g === "Large", 2).when(g === "Very Large", 3)
        .otherwise(-1).cast(IntegerType))
  }

  // --- stage 13 (codes.py:108-109): interaction features ---------------------
  def interactions(df: DataFrame): DataFrame = df
    .withColumn("pop_x_flow", col("log_population_served") * col("log_flow_rate"))
    .withColumn("pop_x_rec_eff", col("log_population_served") * col("rec_eff_percent"))

  // --- single-pass scalar prepass -------------------------------------------
  /** All six EP1 scalar statistics. Every one is a function of the RAW frame:
    * nothing upstream of each fill mutates its column (flow median codes.py:35,
    * flowpop median :39, modes+lod median :82-87 all read untouched columns,
    * and dedup at :96 runs after the fills). That invariant is what lets the
    * composed pipeline collect them in ≤4 jobs up front instead of 8-11
    * scattered ones (round-2 verdict, Next-round #9). */
  final case class Ep1Scalars(
      flowMedian: Option[Double],
      flowpopMedian: Option[Double],
      lodMedian: Option[Double],
      modes: Map[String, String])

  object Ep1Scalars {
    /** Action 1: non-null count + min/max for every median column AND the
      * min-tie-break mode of every mode column, in ONE collect (explode →
      * groupBy → top-1 per column, unioned with the stats aggregate).
      * Actions 2-3: the shared histogram + bucket-pick jobs inside
      * Stats.mediansFromStats, for all median columns at once. ≤4 eager
      * actions total, vs 8-11 when each stage collects its own. */
    def compute(df: DataFrame): Ep1Scalars = {
      import org.apache.spark.sql.expressions.Window
      val medianCols = Seq("flow_rate", "pcr_target_flowpop_lin", "lod_sewage")
        .filter(df.columns.contains)
      val modeCols = Seq("pasteurized", "counties_served", "pcr_gene_target_agg")
        .filter(df.columns.contains)

      val stats = df
        .agg(count(col(medianCols.head).cast(DoubleType)).as(s"n_${medianCols.head}"),
          medianCols.tail.map(c => count(col(c).cast(DoubleType)).as(s"n_$c")) ++
          medianCols.flatMap(c => Seq(
            min(col(c).cast(DoubleType)).as(s"lo_$c"),
            max(col(c).cast(DoubleType)).as(s"hi_$c"))): _*)
        .select(explode(array(medianCols.map(c =>
          struct(lit(c).as("name"), lit(null).cast(StringType).as("value"),
            col(s"n_$c").as("n"), col(s"lo_$c").as("lo"), col(s"hi_$c").as("hi"))): _*)).as("r"))
        .select("r.name", "r.value", "r.n", "r.lo", "r.hi")

      val modes = df
        .select(explode(array(modeCols.map(c =>
          struct(lit(c).as("name"), col(c).cast(StringType).as("value"))): _*)).as("p"))
        .select("p.name", "p.value")
        .filter(col("value").isNotNull)
        .groupBy("name", "value").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("name").orderBy(desc("n"), asc("value"))))
        .filter(col("rn") === 1)
        .select(col("name"), col("value"), col("n"),
          lit(null).cast(DoubleType).as("lo"), lit(null).cast(DoubleType).as("hi"))

      val rows = stats.unionByName(modes).collect() // ONE action for all of it
      val modeVals = rows.filter(!_.isNullAt(1)).map(r => r.getString(0) -> r.getString(1)).toMap
      val specs = rows.filter(_.isNullAt(1)).filter(_.getLong(2) > 0L).map(r =>
        Stats.MedianSpec(r.getString(0), col(r.getString(0)), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))

      val medians =
        if (specs.isEmpty) Map.empty[String, Double]
        else Stats.mediansFromStats(df, specs.toSeq)
      Ep1Scalars(medians.get("flow_rate"), medians.get("pcr_target_flowpop_lin"),
        medians.get("lod_sewage"), modeVals)
    }
  }

  /** Stage 2 with a precomputed median. */
  def imputeFlowWith(median: Option[Double])(df: DataFrame): DataFrame = {
    val flagged = df.withColumn("flow_rate_missing",
      col("flow_rate").isNull.cast(IntegerType))
    median.fold(flagged)(m =>
      flagged.withColumn("flow_rate", coalesce(col("flow_rate"), lit(m))))
  }

  /** Stage 3 with a precomputed median (None also covers the absent-column
    * B9 branch, where the flag is a constant 0). */
  def imputeFlowpopWith(median: Option[Double])(df: DataFrame): DataFrame =
    if (df.columns.contains("pcr_target_flowpop_lin")) {
      val filled = median.fold(df)(m =>
        df.withColumn("pcr_target_flowpop_lin", coalesce(col("pcr_target_flowpop_lin"), lit(m))))
      filled.withColumn("flowpop_lin_missing",
        col("pcr_target_flowpop_lin").isNull.cast(IntegerType))
    } else df.withColumn("flowpop_lin_missing", lit(0))

  /** Stage 9 with precomputed scalars. */
  def imputeModesWith(s: Ep1Scalars)(df: DataFrame): DataFrame = {
    def fill(d: DataFrame, c: String, v: Option[String]): DataFrame =
      if (!d.columns.contains(c)) d
      else v.fold(d)(m => d.withColumn(c, coalesce(col(c), lit(m))))
    var out = fill(df, "pasteurized", s.modes.get("pasteurized"))
    out = fill(out, "counties_served", s.modes.get("counties_served"))
    out = s.lodMedian.fold(out)(m =>
      out.withColumn("lod_sewage", coalesce(col("lod_sewage"), lit(m))))
    fill(out, "pcr_gene_target_agg", s.modes.get("pcr_gene_target_agg"))
  }

  /** The full EP1 composition in reference order (codes.py:21-177 minus the
    * CSV endpoints). `tiebreak` totalizes the lag window order; pass the
    * source's unique row key.
    *
    * The input is persisted around the scalar prepass so its ≤4 scalar jobs
    * and the composed plan don't each re-read the source (for CSV input the
    * parse dominates). Caller unpersists after the composed plan has
    * executed. */
  def pipeline(tiebreak: Seq[Column])(df: DataFrame): DataFrame = {
    val base = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = Ep1Scalars.compute(base)
    Seq[DataFrame => DataFrame](
      dateParts, imputeFlowWith(s.flowMedian), imputeFlowpopWith(s.flowpopMedian),
      logsAndLabel, lagFeatures(tiebreak), binPopulation, targetEncode,
      dropCols, imputeModesWith(s), clipRecEff, dedup, encodeOrdinal, interactions
    ).foldLeft(base)((d, stage) => stage(d))
  }
}
