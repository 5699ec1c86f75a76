package graft.queries

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The shared-frame memo ([[Shared.frame]]): one frame and one
  * `CacheManager` entry per (session, data dir or input plan, tag), a
  * re-cache after `spark.catalog.clearCache()`, fresh results for another
  * dir or session, and one eviction routine that releases the cached data
  * of every shared frame. */
class SharedFrameSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"
  private val Sf2 = "/root/testdata/sf0.01"
  private val Threads = 4

  private def cacheManager = spark.sharedState.cacheManager

  /** `CacheManager.numCachedEntries` is `private[sql]` in Scala but public
    * in bytecode. */
  private def cacheEntries: Int =
    cacheManager.getClass.getMethod("numCachedEntries").invoke(cacheManager).asInstanceOf[Int]

  private def readsCache(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty

  /** Runs `f` on [[Threads]] threads released together; returns the results. */
  private def race[T](f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(Threads)
    try {
      val start = new CyclicBarrier(Threads)
      val futures = (1 to Threads).map(_ => pool.submit(new Callable[T] {
        def call(): T = { start.await(); f }
      }))
      futures.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  private def fresh(): Unit = { Shared.clear(); spark.catalog.clearCache() }

  test("after spark.catalog.clearCache() the next shingles build caches the frame again") {
    fresh()
    val build = LlmQueries.cacheBuilders.toMap
    build("shingles")(spark, Sf)
    val sh = Shared.frame(spark, Sf, "shingles")(fail("shingles not memoized"))
    build("pairs")(spark, Sf)
    spark.catalog.clearCache()
    assert(sh.storageLevel == StorageLevel.NONE)
    build("shingles")(spark, Sf)
    assert(sh.storageLevel != StorageLevel.NONE, "the memoized shingle frame is served uncached")
    assert(readsCache(LlmQueries.l4_jaccard_neardup.fn(spark, Sf)),
      "l4 does not read the cached pair frame after clearCache")
  }

  test("four threads building pairs get one frame and leave one cache entry for it") {
    fresh()
    val got = race(LlmQueries.exactPairsCached(spark, Sf))
    assert(got.forall(_ eq got.head), "racing callers got different pair frames")
    // the pair frame holds a fresh LogicalRDD per build (lazy localCheckpoint),
    // so every cached loser would add an entry of its own; shingles is the other
    assert(cacheEntries == 2)
  }

  test("racing builds of a LogicalRDD frame: every caller gets the installed frame, one entry") {
    // rounds, because two threads caching one plan at once fails only now and then
    (1 to 10).foreach { _ =>
      fresh()
      val inBuild = new CyclicBarrier(Threads) // every thread builds: three must lose
      val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
      val got = race(Shared.frame(spark, "race", "lrdd") {
        val f = spark.range(100).toDF("id").localCheckpoint(eager = false)
        built.add(f); inBuild.await(); f
      })
      assert(got.forall(_ eq got.head))
      assert(built.size == Threads)
      built.forEach(f => assert((f.storageLevel != StorageLevel.NONE) == (f eq got.head)))
      assert(cacheEntries == 1)
    }
    fresh()
  }

  test("another data dir and a new session get their own frames, no manual clear") {
    fresh()
    def l4(s: org.apache.spark.sql.SparkSession, d: String) =
      LlmQueries.l4_jaccard_neardup.fn(s, d).collect().toSeq
    val s2 = spark.newSession()
    val a1 = l4(spark, Sf)
    val a2 = l4(spark, Sf2)
    assert(a1 != a2, "the second dir read the first dir's pair frame")
    assert(l4(s2, Sf2) == a2)
    assert(!(LlmQueries.qualityMetricsFrameFor(s2, Sf) eq LlmQueries.qualityMetricsFrameFor(spark, Sf)),
      "a new session reads the parent session's frame")
    fresh()
  }

  test("the clear hook releases every shared frame's cached data") {
    fresh()
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val builders = LlmQueries.cacheBuilders
    builders.foreach(_._2(spark, Sf))
    val entries = cacheEntries
    builders.foreach(_._2(spark, Sf))
    assert(cacheEntries == entries, "a memo hit added a cache entry")
    // the frames' own cached data, not the local-checkpoint RDDs in their
    // lineage (those go with the last reference to the frame)
    val cached = sc.getRDDStorageInfo.map(_.id).toSet -- before
    val frames = cached.filterNot(id => sc.getPersistentRDDs.get(id).exists(_.isCheckpointed))
    assert(frames.size >= builders.size, s"only ${frames.size} cached frames")
    LlmQueries.clearShingleCache()
    assert(cacheManager.isEmpty)
    val left = sc.getRDDStorageInfo.map(_.id).toSet.intersect(frames)
    assert(left.isEmpty, s"still stored after the clear: $left")
  }
}
