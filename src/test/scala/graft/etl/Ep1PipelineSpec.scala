package graft.etl

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schema.Nwss

/** EP1 executed end-to-end, verifiably (round-2 verdict, Next-round #4/#9):
  * generate the NWSS fixture, round-trip it through a real CSV (the A1 scan
  * path), run the full 13-stage composed pipeline, and assert the 39-column
  * engineered schema, the deterministic row count, that the scalar
  * prepass costs ≤4 Spark jobs, and that its lag features equal the eager
  * per-stage chain's on every run. */
class Ep1PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = NwssSynth.Config(rows = 20000L)

  private lazy val raw = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_nwss_fixture_${cfg.rows}"
    NwssSynth.writeCsv(NwssSynth.generate(spark, cfg, numPartitions = 8), dir)
    NwssSynth.readCsv(spark, dir)
  }

  test("fixture: 35 raw columns, deterministic row count, dirty edges present") {
    assert(raw.schema === Nwss.raw)
    assert(raw.count() === cfg.rows)
    val edges = raw.agg(
      sum(col("flow_rate").isNull.cast("int")).as("flow_nulls"),
      sum(col("pcr_target_avg_conc").isNull.cast("int")).as("conc_nulls"),
      sum((to_date(col("sample_collect_date")).isNull && col("sample_collect_date").isNotNull).cast("int")).as("bad_dates"),
      sum((col("rec_eff_percent") > 100.0).cast("int")).as("rec_gt_100"),
      sum((col("population_served") === 20000L).cast("int")).as("at_bin_edge")
    ).collect()(0)
    assert(edges.getLong(0) > 0, "flow_rate nulls")
    assert(edges.getLong(1) > 0, "conc nulls")
    assert(edges.getLong(2) > 0, "unparseable dates")
    assert(edges.getLong(3) > 0, "rec_eff > 100 for the clip")
    assert(edges.getLong(4) > 0, "population at a bin edge")
    val dups = raw.count() - raw.dropDuplicates().count()
    assert(dups > 0, "exact duplicate rows for dedup")
  }

  test("pipeline: 39-column engineered frame, scalar prepass in ≤4 actions") {
    raw.count() // warm: fixture CSV written before counting actions below

    // Count eager ACTIONS (driver collects), not Spark jobs: AQE splits one
    // action into a job per materialized shuffle stage, which re-reads
    // shuffle output rather than the source — passes over the data are what
    // the ≤4 bound is about (round-2 verdict, Next-round #9).
    //
    // The counted section runs on a PRIVATE cloned session: suites share
    // one JVM-wide TestSpark session and run concurrently, so a listener
    // on the shared session also counts OTHER suites' executions — the
    // r10/r11 full-run flake where this test failed under load but passed
    // solo. ExecutionListenerManager is per-session state, so a
    // newSession() isolates the count to exactly this pipeline's actions.
    val s2 = graft.Tables.prep(spark.newSession())
    val raw2 = NwssSynth.readCsv(s2,
      s"${System.getProperty("java.io.tmpdir")}/graft_nwss_fixture_${cfg.rows}")
    val actions = new AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = actions.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    val out =
      try {
        val o = Features.pipeline(Seq(col("sample_id")))(raw2)
        Thread.sleep(2000) // listener bus is async
        o
      } finally s2.listenerManager.unregister(listener)
    val scalarActions = actions.get()
    assert(scalarActions <= 4, s"scalar prepass fired $scalarActions actions, want ≤4")

    // 39 columns = 35 raw − 12 dropped + 16 derived (FIXTURES.md §2)
    assert(out.columns.length === 39)
    val expected = (Nwss.raw.fieldNames.toSet -- Nwss.columnsToDrop) ++ Nwss.derived
    assert(out.columns.toSet === expected)

    val n = out.count()
    assert(n === 19984L, s"engineered row count drifted: $n")
    assert(n <= cfg.rows) // dedup can only remove

    // the model matrix the H-stages consume: features + label, post-dropna
    val model = out.na.drop(Nwss.features :+ Nwss.label)
    val mn = model.count()
    assert(mn === 18688L, s"model matrix count drifted: $mn")
    raw.unpersist()
  }

  test("pipeline lags equal the eager per-stage chain, run after run") {
    val tiebreak = Seq(col("sample_id"))
    val keyCols = Seq("wwtp_jurisdiction", "sample_collect_date",
      "log_pcr_target_conc", "log_conc_lag1", "log_conc_lag2").map(col)
    val want = Seq[DataFrame => DataFrame](
      Features.dateParts, Features.imputeFlow, Features.imputeFlowpop,
      Features.logsAndLabel, Features.lagFeatures(tiebreak), Features.binPopulation,
      Features.targetEncode, Features.dropCols, Features.imputeModes,
      Features.clipRecEff, Features.dedup, Features.encodeOrdinal, Features.interactions
    ).foldLeft(raw)((d, stage) => stage(d)).select(keyCols: _*)
    try {
      // The lags must not depend on how an execution happens to partition
      // the rows, so the comparison re-executes both plans three times.
      for (run <- 1 to 3) {
        val got = Features.pipeline(tiebreak)(raw).select(keyCols: _*)
        val extra = got.exceptAll(want).count()
        val missing = want.exceptAll(got).count()
        assert(extra === 0L && missing === 0L,
          s"run $run: $extra rows only in pipeline, $missing only in the eager chain")
      }
    } finally raw.unpersist()
  }
}
