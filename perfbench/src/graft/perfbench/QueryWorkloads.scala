package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries.{LlmQueries, MlQueries}

/** Runs declared queries one at a time through `SparkEntry.queries`, each
  * sunk into its `Digest`, and records per-query plan/exec spans. */
class QueryRunner(spark: SparkSession, dataDir: String) {
  val planMs = mutable.Map[Int, Seq[Double]]().withDefaultValue(Nil)
  val execMs = mutable.Map[Int, Seq[Double]]().withDefaultValue(Nil)
  val perQuery = mutable.Map[Int, Seq[(Long, Long)]]().withDefaultValue(Nil)

  /** Runs `names` in order; returns (latency ms, failures, digests). */
  def run(t: Tracer, names: Seq[String]): PassOut = {
    val out = names.map { q =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(t.span(s"queries.$q") {
        val df = t.span("queries.plan") {
          val df = SparkEntry.queries(q)(spark, dataDir)
          df.queryExecution.executedPlan
          df
        }
        t.span("queries.exec")(Digest.of(df))
      })
      val ms = (System.nanoTime() - t0) / 1e6
      (q, ms, r)
    }
    if (t.enabled) {
      t.drain()
      val spans = t.spans.filter(_.pass == t.pass)
      def ms(name: String) = spans.filter(_.name == name).map(_.seconds * 1000).toSeq
      planMs(t.pass) = ms("queries.plan"); execMs(t.pass) = ms("queries.exec")
      perQuery(t.pass) = spans.filter(s => s.name.startsWith("queries.") &&
          !Set("queries.plan", "queries.exec")(s.name)).map { s =>
        val c = (s +: spans.filter(_.parent == s.id)).map(x => t.listener.forSpan(x.id))
        (c.map(_.jobs).sum, c.map(_.tasks).sum)
      }.toSeq
    }
    PassOut(out.map(_._2),
      out.collect { case (q, _, scala.util.Failure(e)) => s"$q threw ${e.toString.take(300)}" },
      out.collect { case (q, _, scala.util.Success(d)) => q -> d })
  }

  def layerMetrics(passes: Seq[Int]): Map[String, Double] = {
    val plan = passes.flatMap(planMs); val exec = passes.flatMap(execMs)
    val pq = passes.flatMap(perQuery)
    Map(
      "queries.plan_ms_p50" -> Stats.reported(plan, 50), "queries.plan_ms_p90" -> Stats.reported(plan, 90),
      "queries.exec_ms_p50" -> Stats.reported(exec, 50), "queries.exec_ms_p90" -> Stats.reported(exec, 90),
      "queries.jobs_per_query" -> pq.map(_._1).sum.toDouble / pq.size,
      "queries.tasks_per_query" -> pq.map(_._2).sum.toDouble / pq.size)
  }
}

object QueryWorkload {
  /** The 36 declared queries whose SURVEY §2 row cites codes.py. */
  val Eda: Seq[String] = Seq(
    "a1_csv_roundtrip", "a4_date_parse", "b1_projection", "b2_derived", "b3_filter",
    "b4_null_flag", "b5_log1p", "b6_clip", "b7_threshold_label", "b10_date_parts",
    "c1_fill_const", "c2_fill_median", "c3_fill_mode", "c5_dedup_exact", "c6_binning",
    "c7_dropna_subset", "d1_group_mean", "d2_group_count", "d3_global_aggs",
    "d4_target_encode", "d5_weekly_resample", "d5_weekly_window", "d6_monthly_rate",
    "d7_topk_counts", "d8_confusion_pivot", "e1_left_join", "e2_broadcast_join",
    "e3_semi_join", "f1_multi_sort", "f2_group_lag", "f3_topk_sum", "h6_ols_scorer",
    "h8_accuracy", "h9_roc_auc", "h10_avg_precision", "h11_class_report")

  val EdaTables: Seq[String] = Seq("region", "nation", "customer", "orders", "lineitem", "events")
}

/** Queries over the parquet fixture perfbench/run.py generated. The seed
  * permutes the order the queries run in. Digests with no oracle must
  * equal the first pass's. */
class QueryWorkload(spark: SparkSession, work: String, seed: Long, names: Seq[String],
    tables: Seq[String]) extends Workload {
  protected val dataDir = s"$work/data"
  protected val runner = new QueryRunner(spark, dataDir)
  protected val order: Seq[String] = new scala.util.Random(seed).shuffle(names)
  private var rows = 0L
  private val firstDigest = mutable.Map[String, Digest]()

  def inputRows: Long = rows
  /** The parquet fixture is made before the JVM starts; this counts its rows. */
  def fixture(): Double = {
    rows = tables.map(t => graft.Tables.table(spark, dataDir, t).count()).sum
    0.0
  }

  def pass(t: Tracer): PassOut = withStableCheck(runner.run(t, order))

  protected def withStableCheck(o: PassOut): PassOut = o.copy(check = () =>
    o.digests.filterNot(d => oracleSql.contains(d._1)).flatMap { case (q, d) =>
      val d0 = firstDigest.getOrElseUpdate(q, d)
      if (d.matches(d0)) Nil else Seq(s"$q digest changed between passes")
    })

  override def oracleSql: Map[String, String] =
    SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }

  def layerMetrics(t: Tracer, passes: Seq[Int]): Map[String, Double] = {
    // span times are nanoTime, job times wall-clock milliseconds
    val toMs = (ns: Long) => System.currentTimeMillis() - (System.nanoTime() - ns) / 1000000
    val roots = passes.map(p => t.spans.find(s => s.pass == p && s.name == "pass").get)
    runner.layerMetrics(passes) + ("queries.driver_share" -> Stats.median(roots.map(r =>
      t.listener.idleMs(toMs(r.start), toMs(r.end)) / (r.seconds * 1000))))
  }
}

/** `curation`: cold passes over the LLM-curation mix. Each pass drops the
  * shared caches, runs the builders the mix consumes, then the consumers.
  * Set-up runs the mix once with the caches built (warm), untimed: the
  * results every cold pass must equal. */
final class CurationWorkload(spark: SparkSession, work: String, seed: Long)
    extends QueryWorkload(spark, work, seed, CurationWorkload.Consumers, Seq("documents")) {
  private val builders = LlmQueries.cacheBuilders.filter(b => Layers.CurationBuilders.contains(b._1))
  private var warm = Map.empty[String, Digest]

  override def fixture(): Double = {
    val s = super.fixture()
    clearCaches()
    builders.foreach(_._2(spark, dataDir))
    warm = order.flatMap(q => scala.util.Try(Digest.of(SparkEntry.queries(q)(spark, dataDir)))
      .toOption.map(q -> _)).toMap
    s
  }

  override def pass(t: Tracer): PassOut = {
    clearCaches()
    builders.foreach { case (tag, build) => t.span(s"curation.build.$tag")(build(spark, dataDir)) }
    val cold = withStableCheck(t.span("curation.consume")(runner.run(t, order)))
    cold.copy(check = () => cold.check() ++ cold.digests.flatMap { case (q, d) =>
      warm.get(q) match {
        case Some(w) if w.matches(d) => Nil
        case Some(_) => Seq(s"$q cold result differs from warm")
        case None => Seq(s"$q threw with warm caches")
      }
    })
  }

  private def clearCaches(): Unit = {
    LlmQueries.clearShingleCache(); LlmQueries.clearQuantizerCache(); MlQueries.clearStatsCache()
  }

  /** The cached bytes the builders leave, and how many consumers' plans
    * then read an in-memory relation. */
  override def breakdown(t: Tracer): Map[String, Double] = {
    clearCaches()
    builders.foreach(_._2(spark, dataDir))
    Map("curation.cache_bytes" ->
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
      "curation.cache_hits" ->
        order.count(q => Plans.readsCache(SparkEntry.queries(q)(spark, dataDir))).toDouble)
  }

  override def layerMetrics(t: Tracer, passes: Seq[Int]): Map[String, Double] = {
    def secs(name: String): Double = Stats.median(passes.map(p => t.named(p, name).map(_.seconds).sum))
    super.layerMetrics(t, passes) ++
      builders.map(b => s"curation.build.${b._1}_s" -> secs(s"curation.build.${b._1}")) +
      ("curation.consume_s" -> secs("curation.consume"))
  }
}

object CurationWorkload {
  val Consumers: Seq[String] = Seq("l1_token_stats", "l2_lang_id", "l3_hash_dedup",
    "l4_jaccard_neardup", "l5_minhash_lsh", "l8_simhash_neardup", "l9_fingerprints",
    "l14_dedup_clusters", "l18_tfidf_topterms", "l26_edit_neardup",
    "l30_repeated_span_scrub", "l50_line_dedup", "l103_distinct_ngrams")
}
