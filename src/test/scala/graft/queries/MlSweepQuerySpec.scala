package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** h9 and h10 evaluate through `Metrics.sweep`: from cleared caches they
  * leave no `CacheManager` entry behind (the sweep releases its
  * distinct-score frame) and each costs a handful of Spark jobs, with no
  * eager shared frame built first. */
class MlSweepQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = "/root/testdata/sf0.01"

  /** `CacheManager.numCachedEntries` is `private[sql]` in Scala but public
    * in bytecode. */
  private def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("h9 then h10 on sf0.01 from cleared caches: no cache entry left, few jobs") {
    MlQueries.clearStatsCache()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    // The listener bus is async but ordered: once the sentinel job's start
    // event arrives, every earlier job's start has been counted.
    val Sentinel = "ml-sweep-spec-sentinel"
    val jobs = new AtomicInteger(0)
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Sentinel))
          sentinelSeen = true
        else jobs.incrementAndGet()
    }
    def drain(): Unit = {
      sentinelSeen = false
      sc.setJobDescription(Sentinel)
      try spark.range(1).collect() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "sentinel job never reached the listener")
    }
    def countJobs(q: Q): (org.apache.spark.sql.Row, Int) = {
      drain()
      jobs.set(0)
      val row = q.fn(spark, Sf).collect().head
      drain()
      (row, jobs.get())
    }
    sc.addSparkListener(listener)
    try {
      val before = cacheEntries
      val (auc, aucJobs) = countJobs(MlQueries.h9_roc_auc)
      val (ap, apJobs) = countJobs(MlQueries.h10_avg_precision)
      info(s"h9 ran $aucJobs Spark jobs, h10 $apJobs")
      assert(cacheEntries == before, "h9/h10 left a cached frame behind")
      assert(auc.getDouble(0) > 0.5 && auc.getDouble(0) < 1.0, s"h9 $auc")
      assert(ap.getDouble(0) > 0.0 && ap.getDouble(0) < 1.0, s"h10 $ap")
      assert(auc.getLong(1) == ap.getLong(1), "h9 and h10 disagree on P")
      assert(aucJobs + apJobs <= 14, s"h9 + h10 ran $aucJobs + $apJobs Spark jobs, want ≤ 14")
    } finally sc.removeSparkListener(listener)
  }
}
