package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.etl.{Features, NwssSynth}

/** Physical-plan walks that see through adaptive execution. */
object Plans {
  def count(p: SparkPlan, hit: SparkPlan => Boolean): Int = {
    val self = if (hit(p)) 1 else 0
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    self + below.map(count(_, hit)).sum
  }

  def exchanges(df: DataFrame): Int =
    count(df.queryExecution.executedPlan, _.isInstanceOf[Exchange])

  def readsCache(df: DataFrame): Boolean =
    count(df.queryExecution.executedPlan, _.isInstanceOf[InMemoryTableScanExec]) > 0
}

/** The NWSS CSV fixture both EP1 workloads read, and helpers around it. */
object Nwss {
  val TieBreak = Seq(col("sample_id"))

  /** GoldenSpec's calibrated latent structure, at `rows` rows and `seed`. */
  def config(rows: Long, seed: Long): NwssSynth.Config = NwssSynth.Config(
    rows = rows, seed = seed,
    noise = 2.30, jurSd = 2.25, waveAmp = 3.8, seasonAmp = 0.8,
    popLin = 0.65, popNl = 0.85, recLin = 0.15,
    threshold = -0.62, slope = 1.45, winterMiss = 0.78, concSd = 0.25,
    pFlowNullSmall = 0.15, pFlowNullBig = 0.15,
    recPopCorr = 0.98, dowPopSlope = 4.0)

  /** Writes the CSV `reps` times and returns the median seconds. */
  def writeFixture(spark: SparkSession, cfg: NwssSynth.Config, path: String,
      reps: Int = 3): Double = Stats.median((1 to reps).map { _ =>
    val t0 = System.nanoTime()
    NwssSynth.writeCsv(NwssSynth.generate(spark, cfg,
      spark.sparkContext.defaultParallelism), path)
    (System.nanoTime() - t0) / 1e9
  })

  /** Bytes of the CSV part files under `path`. */
  def csvBytes(path: String): Long =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("part-")).map(_.length).sum

  /** Bytes the process has read through Hadoop's local filesystem. */
  def localFsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** EP1 as a chain of the per-stage public functions, each eager stage
    * computing its own statistics: the untimed reference the composed
    * `Features.pipeline` output is checked against. */
  def reference(raw: DataFrame): DataFrame =
    Seq[DataFrame => DataFrame](
      Features.dateParts, Features.imputeFlow, Features.imputeFlowpop,
      Features.logsAndLabel, Features.lagFeatures(TieBreak), Features.binPopulation,
      Features.targetEncode, Features.dropCols, Features.imputeModes,
      Features.clipRecEff, Features.dedup, Features.encodeOrdinal, Features.interactions
    ).foldLeft(raw)((d, stage) => stage(d))

  /** The 13 stages in `Features.pipeline` order, with precomputed scalars. */
  def stages(s: Features.Ep1Scalars): Seq[DataFrame => DataFrame] = Seq(
    Features.dateParts, Features.imputeFlowWith(s.flowMedian),
    Features.imputeFlowpopWith(s.flowpopMedian), Features.logsAndLabel,
    Features.lagFeaturesScalable(TieBreak), Features.binPopulation, Features.targetEncode,
    Features.dropCols, Features.imputeModesWith(s), Features.clipRecEff, Features.dedup,
    Features.encodeOrdinal, Features.interactions)

  /** The columns and digest of the reference, or the failures of `out`. */
  def checkAgainst(expected: Digest, out: DataFrame, what: String): Seq[String] = {
    val got = Digest.of(out)
    (if (out.columns.length != 39) Seq(s"$what: ${out.columns.length} columns, want 39") else Nil) ++
      (if (got.matches(expected)) Nil
       else Seq(s"$what: digest ${got.toJson} != reference ${expected.toJson}"))
  }

  /** EP1 taken apart, traced: the CSV scan, the scalar prepass, planning
    * and fused execution of `Features.pipeline` into a CSV sink, then the
    * 13 stages persisted and counted one at a time (so fusion across
    * stages is lost on purpose) and the sink of the materialised result. */
  def breakdown(spark: SparkSession, t: Tracer, csv: String, work: String): Map[String, Double] = {
    val m = scala.collection.mutable.Map[String, Double]()
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = t.span(name)(f)
      m(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val base = timed("io.csv_scan_s") {
      val b = NwssSynth.readCsv(spark, csv).persist(StorageLevel.MEMORY_AND_DISK); b.count(); b
    }
    val jobs0 = t.jobs()
    val s = timed("etl.scalars_s")(Features.Ep1Scalars.compute(base))
    m("etl.scalar_actions") = (t.jobs() - jobs0).toDouble
    val fused = Features.pipeline(TieBreak)(base)
    timed("etl.plan_s")(fused.queryExecution.executedPlan)
    m("etl.shuffles") = Plans.exchanges(fused).toDouble
    timed("etl.exec_s")(fused.write.mode("overwrite").option("header", "true").csv(s"$work/ep1-fused"))

    var cur: DataFrame = base
    val counts = scala.collection.mutable.Map[String, Long]()
    Layers.EtlStages.zip(stages(s)).foreach { case (name, stage) =>
      val next = timed(s"etl.stage.${name}_s") {
        val n = stage(cur).persist(StorageLevel.MEMORY_AND_DISK); counts(name) = n.count(); n
      }
      if (cur ne base) cur.unpersist()
      cur = next
    }
    timed("io.csv_sink_s")(cur.write.mode("overwrite").option("header", "true").csv(s"$work/ep1-staged"))
    cur.unpersist(); base.unpersist()
    m("etl.stage_sum_s") = Layers.EtlStages.map(n => m(s"etl.stage.${n}_s")).sum
    m("etl.dedup_ratio") = counts("clip_rec_eff").toDouble / counts("dedup")
    m.toMap
  }
}
