package graft.perfbench

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not exercise reports 0: it did no work there. */
object Layers {
  val EtlStages: Seq[String] = Seq("date_parts", "impute_flow", "impute_flowpop",
    "logs_and_label", "lag_features", "bin_population", "target_encode", "drop_cols",
    "impute_modes", "clip_rec_eff", "dedup", "encode_ordinal", "interactions")

  /** The cache builders the curation mix consumes: of all
    * `LlmQueries.cacheBuilders`, only the shingle cache is read (by l4 and
    * l5) by the 13 consumers' executed plans. */
  val CurationBuilders: Seq[String] = Seq("shingles")

  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.fetch_wait_ms" -> "ms",
    "spark.input_records" -> "count", "spark.core_util" -> "ratio",
    "spark.driver_only_ms" -> "ms",
    "io.csv_scan_s" -> "s", "io.csv_sink_s" -> "s", "io.read_amplification" -> "ratio",
    "etl.scalars_s" -> "s", "etl.scalar_actions" -> "count", "etl.plan_s" -> "s",
    "etl.exec_s" -> "s", "etl.dedup_ratio" -> "ratio", "etl.shuffles" -> "count") ++
    EtlStages.map(s => s"etl.stage.${s}_s" -> "s") ++ Seq(
    "etl.stage_sum_s" -> "s",
    "ml.model_matrix_s" -> "s", "ml.scaler_fit_s" -> "s", "ml.pca_fit_s" -> "s",
    "ml.pca_k" -> "count", "ml.gbt_fit_s.raw" -> "s", "ml.gbt_fit_s.pca" -> "s",
    "ml.gbt_jobs" -> "count", "ml.gbt_ms_per_round" -> "ms", "ml.ols_fit_s.raw" -> "s",
    "ml.ols_fit_s.pca" -> "s", "ml.metrics_s" -> "s", "ml.metric_jobs" -> "count",
    "ml.confusion_s" -> "s",
    "queries.plan_ms_p50" -> "ms", "queries.plan_ms_p90" -> "ms",
    "queries.exec_ms_p50" -> "ms", "queries.exec_ms_p90" -> "ms",
    "queries.jobs_per_query" -> "count", "queries.tasks_per_query" -> "count",
    "queries.driver_share" -> "ratio") ++
    CurationBuilders.map(b => s"curation.build.${b}_s" -> "s") ++ Seq(
    "curation.cache_bytes" -> "bytes", "curation.consume_s" -> "s",
    "curation.cache_hits" -> "count",
    "trace.overhead_s" -> "s", "trace.attributed_share" -> "ratio",
    "trace.unattributed_s" -> "s")

  /** `got` with every missing metric set to 0, in the declared order. */
  def complete(got: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = got.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(", ")}")
    all.map { case (k, u) => k -> (got.getOrElse(k, 0.0), u) }
  }
}
