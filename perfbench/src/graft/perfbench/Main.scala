package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one pass hands back: the latency of each operation it ran, the
  * operations that threw or failed their check, and the result digests
  * the oracle step compares later. */
final case class PassOut(opsMs: Seq[Double], failures: Seq[String],
    digests: Seq[(String, Digest)] = Nil, check: () => Seq[String] = () => Nil) {
  def attempted: Int = opsMs.size
}

/** A closed-loop workload: one client, one operation at a time. */
trait Workload {
  /** Builds the inputs the passes read; returns the set-up seconds. */
  def fixture(): Double
  /** Rows of NWSS input (or fixture rows) one pass processes. */
  def inputRows: Long
  def pass(t: Tracer): PassOut
  /** Per-layer metrics of the traced passes, from their spans. */
  def layerMetrics(t: Tracer, passes: Seq[Int]): Map[String, Double]
  /** Extra traced work that decomposes a pass layer by layer; it runs
    * once, first in a traced run, and is not part of any pass time. */
  def breakdown(t: Tracer): Map[String, Double] = Map.empty
  /** Whether `breakdown` runs the code of a pass, so it can stand in for
    * the warm-up pass of a traced run. */
  def breakdownWarmsUp: Boolean = false
  /** SQL of the DuckDB oracles for the digests this workload reports. */
  def oracleSql: Map[String, String] = Map.empty
}

/** Entry point of the benchmark JVM. perfbench/run.py builds the classes,
  * makes the parquet fixtures and calls this with
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`;
  * the run's record (metrics, digests, host stamps) goes to FILE. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val work = a("work")
    // The fixtures are small: past 4 cores more partitions only add task
    // overhead, and the run budget was set on 4 cores.
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val hostStart = host()
    val clock = System.nanoTime()
    def note(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - clock) / 1e9}%7.2fs $what")

    Heap.watch()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val tracer = new Tracer(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9
    note(f"session up in $sessionS%.2fs")

    val w: Workload = workload match {
      case "etl" => new EtlWorkload(spark, work, seed)
      case "pipeline" => new PipelineWorkload(spark, work, seed)
      case "eda" => new QueryWorkload(spark, work, seed, QueryWorkload.Eda, QueryWorkload.EdaTables)
      case "curation" => new CurationWorkload(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val fixtureS = a.get("fixture-s").map(_.toDouble).getOrElse(0.0) + w.fixture()
    note(f"fixture ready, $fixtureS%.2fs per set-up")

    val outs = mutable.ArrayBuffer[PassOut]()
    /** One pass, then its (untimed) checks; returns the pass seconds. */
    def timed(): Double = {
      val p0 = System.nanoTime()
      val o = try tracer.span("pass")(w.pass(tracer)) catch {
        case e: Exception => PassOut(Seq((System.nanoTime() - p0) / 1e6), Seq(s"pass threw $e"))
      }
      val s = (System.nanoTime() - p0) / 1e9
      val bad = try o.check() catch { case e: Exception => Seq(s"check threw $e") }
      outs += o.copy(failures = o.failures ++ bad)
      s
    }
    /** Passes until `budget` seconds have gone, at least one; each pass's
      * id, seconds and Spark counters. */
    def loop(budget: Double): Seq[(Int, Double, Map[String, Double])] = {
      val start = System.nanoTime()
      val xs = mutable.ArrayBuffer[(Int, Double, Map[String, Double])]()
      while (xs.isEmpty || (System.nanoTime() - start) / 1e9 < budget) {
        tracer.pass += 1
        val c0 = tracer.listener.snapshot(); val g0 = Tracer.gcMs(); val ms0 = System.currentTimeMillis()
        val wall = timed()
        tracer.drain()
        val ms1 = System.currentTimeMillis()
        xs += ((tracer.pass, wall, sparkMetrics(tracer.listener.snapshot().minus(c0),
          Tracer.gcMs() - g0, wall, cores, tracer.listener.idleMs(ms0, ms1))))
      }
      note(s"${xs.size} ${if (tracer.enabled) "traced" else "timed"} passes: " +
        xs.map(x => f"${x._2}%.2f").mkString(" "))
      xs.toSeq
    }

    // A run is one fresh JVM, as a batch job is; its first pass follows
    // only set-up. A traced run first takes a pass apart layer by layer
    // (the breakdown), then warms up with one untimed pass unless the
    // breakdown already ran the pass's code, so its untraced and traced
    // passes compare like with like.
    val layers = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      tracer.enabled = true
      tracer.pass += 1
      layers ++= w.breakdown(tracer)
      tracer.enabled = false
      note("breakdown done")
      if (!w.breakdownWarmsUp) note(f"warm-up pass ${timed()}%.2fs")
    }
    val firstTimed = outs.size
    val plain = loop(if (trace) seconds / 2 else seconds)
    val runS = Stats.median(plain.map(_._2))
    val ops = outs.drop(firstTimed).flatMap(_.opsMs).toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + fixtureS, "s"),
      "run_s" -> (runS, "s"),
      "rows_per_s" -> (w.inputRows / runS, "1/s"),
      "query_geomean_ms" -> (Stats.geomean(ops), "ms"))

    if (trace) {
      tracer.enabled = true
      val traced = loop(seconds / 2)
      for (k <- traced.head._3.keys) layers(k) = Stats.median(traced.map(_._3(k)))
      layers ++= w.layerMetrics(tracer, traced.map(_._1))
      val self = Span.selfSeconds(tracer.spans.toSeq)
      val roots = traced.map(p => tracer.spans.find(s => s.pass == p._1 && s.name == "pass").get)
      layers("trace.overhead_s") = Stats.median(traced.map(_._2)) - runS
      layers("trace.attributed_share") = Stats.median(roots.map(r => 1.0 - self(r.id) / r.seconds))
      layers("trace.unattributed_s") = Stats.median(roots.map(r => self(r.id)))
      Files.write(Paths.get(work, "spans.jsonl"), tracer.toJsonLines.mkString("\n").getBytes(UTF_8))
    }
    metrics("peak_rss_mb") = (peakRssMb(), "MB")
    metrics("live_heap_mb") = (Heap.liveMaxMb, "MB")

    val hostEnd = host()
    val failures = outs.flatMap(_.failures)
    val digests = outs.zipWithIndex.flatMap { case (o, i) =>
      o.digests.map { case (q, d) => s"""{"query":"$q","pass":$i,"digest":${d.toJson}}""" }
    }
    val json = new StringBuilder("{")
    json ++= s""""workload":"$workload","seed":$seed,"trace":${if (trace) 1 else 0},"cores":$cores,"""
    json ++= s""""attempted":${outs.map(_.attempted).sum},"failed":${failures.size},"""
    json ++= s""""failures":[${failures.map(quote).mkString(",")}],"""
    json ++= s""""passes":${plain.size},"jobs":${plain.map(_._3("spark.jobs")).sum},"""
    json ++= s""""ops":${ops.size},"op_p50_ms":${Stats.reported(ops, 50)},"op_p90_ms":${Stats.reported(ops, 90)},"""
    json ++= s""""op_p90_rank":${Stats.effectivePercentile(90, ops.size)},"""
    json ++= s""""metrics":{${metrics.map { case (k, (v, u)) => s""""$k":{"value":${Digest.num(v)},"unit":"$u"}""" }.mkString(",")}},"""
    json ++= s""""layers":{${Layers.complete(layers.toMap).map { case (k, (v, u)) => s""""$k":{"value":${Digest.num(v)},"unit":"$u"}""" }.mkString(",")}},"""
    json ++= s""""digests":[${digests.mkString(",")}],"""
    json ++= s""""oracle_sql":{${w.oracleSql.map { case (k, v) => s""""$k":${quote(v)}""" }.mkString(",")}},"""
    json ++= s""""host":{"start":$hostStart,"end":$hostEnd}}"""
    Files.write(Paths.get(a("out")), json.toString.getBytes(UTF_8))
    spark.stop()
    note("done")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.prep(s)
  }

  private def sparkMetrics(c: Counters, gcMs: Long, wallS: Double, cores: Int,
      idleMs: Double): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble, "spark.executor_cpu_ms" -> c.cpuNs / 1e6,
    "spark.executor_run_ms" -> c.runMs.toDouble, "spark.gc_ms" -> gcMs.toDouble,
    "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "spark.spill_bytes" -> c.spill.toDouble, "spark.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
    "spark.input_records" -> c.inputRecords.toDouble,
    "spark.core_util" -> c.cpuNs / 1e9 / (wallS * cores),
    "spark.driver_only_ms" -> idleMs)

  /** The calibration triple of graft.Bench and /proc/loadavg, as JSON. */
  private def host(): String = {
    val (wall, cpu, sum) = graft.Bench.calibrate()
    val load = scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim)
      .getOrElse("")
    s"""{"calib_wall_ms":$wall,"calib_cpu_ms":$cpu,"calib_sum":$sum,"loadavg":${quote(load)}}"""
  }

  /** VmHWM of this process in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The most heap in use right after a garbage collection, over the run:
  * the program's retained data plus garbage the collector has not yet
  * reached, but not the transient allocation that fills the young
  * generation between collections. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val liveMax = new java.util.concurrent.atomic.AtomicLong()

  def watch(): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          liveMax.accumulateAndGet(after.collect { case (pool, u) if heap(pool) => u.getUsed }.sum,
            math.max(_, _))
        }, null, null)
      case _ =>
    }
  }

  def liveMaxMb: Double = liveMax.get / 1048576.0
}
