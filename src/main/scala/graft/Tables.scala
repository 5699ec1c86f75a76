package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.internal.StaticSQLConf

/** Loaders for the driver testdata tables (TESTDATA.md): TPC-H-ish star
  * schema + `events` stream table + `documents`/`embeddings` for the
  * LLM-data-pipeline operators. All parquet; explicit paths, no globbing
  * so partition pruning / schema discovery stays trivial at scale.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.ts has drifted across testdata generations: originally parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read as raw
    * nanos via the legacy-long conf and truncate), currently naive
    * `timestamp[us]` (which Spark ≥3.5 infers as TIMESTAMP_NTZ — a type
    * `withWatermark` refuses: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). This
    * loader normalizes BOTH encodings to microsecond TimestampType so every
    * downstream consumer (batch date-grain derivations and the
    * StreamingOps watermarks alike) sees one stable type. With the session
    * timezone pinned to UTC (prep below), the NTZ→TIMESTAMP cast is an
    * identity on the stored values. */
  def events(s: SparkSession, d: String): DataFrame = {
    // NOTE (ADVICE r01): nanosAsLong must stay set for as long as this
    // DataFrame may be (re)scanned — plans are lazy, so restoring the conf
    // here would break later executions. The session-global effect is
    // deliberate and documented: any other nanos-timestamp parquet read in
    // the same session also comes back as raw longs.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: double division of epoch-nanos (~1.7e18,
        // beyond 2^53) would silently corrupt the microseconds
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", F.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Scratch path for roundtrip/layout-demo writes — a shared filesystem
    * root on a real cluster (`spark.graft.scratchDir`: executors commit
    * there, so it MUST be cluster-visible, possibly a non-local URI),
    * with ONE deterministic path per (query, sfDir), overwritten each run
    * — repeated verify/bench runs reuse the dir instead of leaking a
    * table copy per run (VERDICT r12 hygiene). Different scale factors
    * hash to different paths; concurrent runs at the SAME sfDir must set
    * distinct scratchDirs (the driver runs queries sequentially). ONE
    * definition (hoisted from ScaleQueries, ADVICE r14) so the
    * cleanup/fallback policy can't silently diverge between the
    * CoreQueries roundtrips and the ScaleQueries layout demos. */
  private[graft] def scratchDir(s: SparkSession, d: String,
      prefix: String): String = {
    val base = s.conf.getOption("spark.graft.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    s"$base/${prefix}_${Integer.toHexString(d.hashCode)}"
  }

  /** Write a small driver-side text file (manifests, planted sidecars)
    * through the SAME Hadoop filesystem the session's data writes go
    * through — `java.nio.file` would silently write a LOCAL path when
    * `spark.graft.scratchDir` is a non-local URI (the conf's documented
    * cluster use), splitting the sidecar from its data (ADVICE r14). */
  private[graft] def writeSidecar(s: SparkSession, path: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Session settings every declared query relies on, applied defensively in
    * case the driver created the session with different defaults:
    *  - ANSI off: the reference's pandas semantics are coerce-to-null
    *    (`pd.to_datetime(errors='coerce')`, codes.py:28; `NaN > 0 == False`,
    *    codes.py:50) and the DuckDB oracle SQL uses TRY_CAST to match.
    *  - UTC: keeps date-part extraction stable vs the oracle.
    *  - Room for [[CodegenCacheEntries]] generated classes. Spark keeps
    *    Janino-compiled classes in one JVM-wide LRU cache, keyed by (source,
    *    compiling thread's class loader): a stage compiled on the driver and
    *    again in a task takes two entries. The cache is sized once, from the
    *    static conf `spark.sql.codegen.cache.maxEntries` (default 100) of the
    *    session active at the JVM's first codegen, so it must be set before
    *    then; it goes through `sessionState` because `spark.conf.set` rejects
    *    static confs. One `curation` pass (shingles builder + 13 consumers)
    *    needs about 300 entries: three rounds in one JVM on the sf0.01
    *    corpus compiled 325 / 317 / 316 classes at the default, and
    *    300 / 8 / 10 with room. A larger value the caller already set is
    *    kept. If the JVM compiled before the first `prep`, the size may no
    *    longer apply, and one WARN says so.
    */
  def prep(spark: SparkSession): SparkSession = {
    warnIfCompiledBeforePrep
    val conf = spark.sessionState.conf
    if (conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) < CodegenCacheEntries)
      conf.setConfString(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Testdata timestamp-type drift guard (SURVEY §4.3): naive parquet
    // timestamps must come back as TIMESTAMP, not TIMESTAMP_NTZ, or every
    // withWatermark("ts", …) fails analysis. Belt (this conf) AND
    // suspenders (the NTZ cast branch in `events` above) so a future
    // testdata generation can't silently re-break the streaming surface.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // native engine functions (graft_dot, graft_sorted_intersect_count,
    // graft_minhash) — idempotent; sessions built with
    // spark.sql.extensions=graft.plans.GraftExtensions already have them
    graft.functions.VectorExprs.register(spark)
    graft.functions.SetExprs.register(spark)
    graft.functions.SketchExprs.register(spark)
    graft.functions.TextExprs.register(spark)
    spark
  }

  /** About three `curation` passes, with headroom for `Bench`/`Verify`,
    * which run hundreds of queries in one JVM. */
  private[graft] val CodegenCacheEntries = 1000

  /** Checked once, at the JVM's first `prep`: a compile before it means the
    * generated-class cache was probably sized already, by whichever session
    * compiled first. */
  private lazy val warnIfCompiledBeforePrep: Unit =
    if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft.Tables.prep ran after this JVM's first codegen compile: " +
          s"${StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key}=$CodegenCacheEntries may not " +
          "apply, and the generated-class cache keeps the size it was built with")

  /** Spread a tiny-input, compute-heavy frame across the session's cores.
    * Compressed text EXPANDS: the corpus at test SF is a sub-MB parquet
    * file — ONE input split — so every narrow pipeline over it (shingling,
    * hashing, signatures) would otherwise run single-threaded no matter
    * how many cores the session has; bytes-on-disk is the wrong
    * parallelism signal for CPU-bound text work. One round-robin shuffle
    * of the raw rows buys full parallelism for the expensive expressions
    * downstream. Guarded: a scan that already has ≥ cores splits (the
    * 100 TB case) passes through untouched — no shuffle is inserted.
    * Callers must be row-order-insensitive (per-row outputs, integer/min
    * aggregates) — every caller in queries/ and streaming/ is. BATCH
    * frames only (`.rdd` materializes the plan's partitioning). */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }
}
