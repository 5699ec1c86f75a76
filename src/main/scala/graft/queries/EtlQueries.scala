package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.etl.Features

/** The composed EP1 prefix (stages 1-7: dateParts → imputeFlow →
  * imputeFlowpop → logsAndLabel → lag → binPopulation → targetEncode,
  * codes.py:28-69) exercised as ONE declared query over testdata columns
  * renamed into the NWSS shape — so the stage interactions (§1.4 null
  * semantics crossing stage boundaries) are themselves oracle-checked, not
  * just each stage in isolation (round-2 verdict, Next-round #4).
  *
  * Numeric-parity choices: the two median-filled columns are INTEGER-valued
  * doubles (floor), so pandas-style interpolation `(a+b)/2` is bit-exact in
  * both engines regardless of interpolation formula; log/avg outputs are
  * round(6)ed per the Q conventions. The lag is the same per-jurisdiction
  * window (`Features.lagFeatures`) the composed pipeline runs.
  */
object EtlQueries {

  val g1_etl_prefix = Q(
    "g1_etl_prefix",
    """WITH src AS (
      |  SELECT o_orderkey,
      |         o_orderpriority AS jur,
      |         CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |              WHEN o_orderkey % 40 = 0 THEN 'x' || strftime(o_orderdate, '%Y-%m-%d')
      |              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS ds,
      |         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE floor(o_totalprice / 100) END AS flow_rate,
      |         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE floor(o_totalprice * 2) END AS flowpop,
      |         (o_custkey * 37) % 300000 AS population_served,
      |         CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |              WHEN o_orderkey % 3 = 0 THEN 0.0
      |              ELSE round(o_totalprice / 100, 4) END AS conc
      |  FROM orders),
      |d AS (SELECT src.*, TRY_CAST(ds AS DATE) AS dt FROM src),
      |f AS (SELECT d.*,
      |        CAST(flow_rate IS NULL AS BIGINT) AS flow_rate_missing,
      |        coalesce(flow_rate, (SELECT quantile_cont(flow_rate, 0.5) FROM d)) AS flow_f,
      |        coalesce(flowpop, (SELECT quantile_cont(flowpop, 0.5) FROM d)) AS fp_f
      |      FROM d),
      |l AS (SELECT f.*,
      |        ln(1 + population_served) AS log_pop,
      |        ln(1 + flow_f) AS log_flow,
      |        CAST(coalesce(CAST(conc > 0 AS BIGINT), 0) AS BIGINT) AS detected,
      |        ln(1 + conc) AS log_conc
      |      FROM f),
      |w AS (SELECT l.*,
      |        coalesce(lag(log_conc, 1) OVER (PARTITION BY jur ORDER BY dt ASC NULLS LAST, o_orderkey), 0.0) AS lag1,
      |        coalesce(lag(log_conc, 2) OVER (PARTITION BY jur ORDER BY dt ASC NULLS LAST, o_orderkey), 0.0) AS lag2
      |      FROM l),
      |m AS (SELECT jur AS jur2, avg(CAST(detected AS DOUBLE)) AS jtm
      |      FROM w WHERE jur IS NOT NULL GROUP BY 1)
      |SELECT w.o_orderkey,
      |       CAST(month(dt) AS BIGINT) AS cmonth,
      |       CAST(coalesce(weekofyear(dt), -1) AS BIGINT) AS cweek,
      |       CAST(isodow(dt) - 1 AS BIGINT) AS cdow,
      |       CAST(flow_rate_missing AS BIGINT) AS flow_rate_missing,
      |       round(flow_f, 6) AS flow_filled,
      |       CAST(0 AS BIGINT) AS flowpop_lin_missing,
      |       round(fp_f, 6) AS flowpop_filled,
      |       round(log_pop, 6) AS log_population_served,
      |       round(log_flow, 6) AS log_flow_rate,
      |       detected AS influenza_a_detected,
      |       round(log_conc, 6) AS log_pcr_target_conc,
      |       round(lag1, 6) AS log_conc_lag1,
      |       round(lag2, 6) AS log_conc_lag2,
      |       CASE WHEN population_served < 0 THEN NULL
      |            WHEN population_served < 20000 THEN 'Small'
      |            WHEN population_served < 50000 THEN 'Medium'
      |            WHEN population_served < 200000 THEN 'Large'
      |            ELSE 'Very Large' END AS population_group,
      |       round(coalesce(m.jtm, 0.5), 6) AS jurisdiction_target_mean
      |FROM w LEFT JOIN m ON w.jur = m.jur2
      |ORDER BY w.o_orderkey""".stripMargin
  ) { (s, d) =>
    val ds = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val src = orders(s, d).select(
      col("o_orderkey"),
      col("o_orderpriority").as("wwtp_jurisdiction"),
      when(col("o_orderkey") % 97 === 0, lit(null).cast(StringType))
        .when(col("o_orderkey") % 40 === 0, concat(lit("x"), ds))
        .otherwise(ds).as("sample_collect_date"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast(DoubleType))
        .otherwise(floor(col("o_totalprice") / 100).cast(DoubleType)).as("flow_rate"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast(DoubleType))
        .otherwise(floor(col("o_totalprice") * 2).cast(DoubleType)).as("pcr_target_flowpop_lin"),
      ((col("o_custkey") * 37) % 300000).as("population_served"),
      when(col("o_orderkey") % 5 === 0, lit(null).cast(DoubleType))
        .when(col("o_orderkey") % 3 === 0, lit(0.0))
        .otherwise(round(col("o_totalprice") / 100, 4)).as("pcr_target_avg_conc"))

    // Both medians read columns nothing upstream mutates, so they come out
    // of ONE shared stats pass + one histogram/pick round (3 jobs total)
    // instead of each impute stage collecting its own 3 (the Ep1Scalars
    // argument, Features.scala): measured ~2 s off g1 at sf0.1.
    val medCols = Seq("flow_rate", "pcr_target_flowpop_lin")
    val statsRow = src.agg(
      count(col(medCols.head).cast(DoubleType)).as(s"n_${medCols.head}"),
      medCols.tail.map(c => count(col(c).cast(DoubleType)).as(s"n_$c")) ++
        medCols.flatMap(c => Seq(
          min(col(c).cast(DoubleType)).as(s"lo_$c"),
          max(col(c).cast(DoubleType)).as(s"hi_$c"))): _*).collect()(0)
    val specs = medCols.filter(c => statsRow.getAs[Long](s"n_$c") > 0L).map(c =>
      graft.ops.Stats.MedianSpec(c, col(c), statsRow.getAs[Long](s"n_$c"),
        statsRow.getAs[Double](s"lo_$c"), statsRow.getAs[Double](s"hi_$c")))
    val medians =
      if (specs.isEmpty) Map.empty[String, Double]
      else graft.ops.Stats.mediansFromStats(src, specs)

    val staged = Seq[DataFrame => DataFrame](
      Features.dateParts,
      Features.imputeFlowWith(medians.get("flow_rate")),
      Features.imputeFlowpopWith(medians.get("pcr_target_flowpop_lin")),
      Features.logsAndLabel, Features.lagFeatures(Seq(col("o_orderkey"))),
      Features.binPopulation, Features.targetEncode
    ).foldLeft(src)((df, st) => st(df))

    staged.select(
      col("o_orderkey"),
      col("collection_month").as("cmonth"),
      col("collection_week").as("cweek"),
      col("collection_dayofweek").as("cdow"),
      col("flow_rate_missing"),
      round(col("flow_rate"), 6).as("flow_filled"),
      col("flowpop_lin_missing"),
      round(col("pcr_target_flowpop_lin"), 6).as("flowpop_filled"),
      round(col("log_population_served"), 6).as("log_population_served"),
      round(col("log_flow_rate"), 6).as("log_flow_rate"),
      col("influenza_a_detected"),
      round(col("log_pcr_target_conc"), 6).as("log_pcr_target_conc"),
      round(col("log_conc_lag1"), 6).as("log_conc_lag1"),
      round(col("log_conc_lag2"), 6).as("log_conc_lag2"),
      col("population_group"),
      round(col("jurisdiction_target_mean"), 6).as("jurisdiction_target_mean")
    ).orderBy("o_orderkey")
  }

  val all: Seq[Q] = Seq(g1_etl_prefix)
}
