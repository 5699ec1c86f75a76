package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.LlmQueries

/** `Tables.prep` sizes Spark's JVM-wide generated-class cache: the conf it
  * sets, and the compiles a repeated `curation` round no longer pays. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.sql.codegen.cache.maxEntries"
  private val Entries = Tables.CodegenCacheEntries
  private val Sf = "/root/testdata/sf0.01"
  /** The shingles builder's consumers in perfbench's `curation` mix. */
  private val Curation = Seq("l1_token_stats", "l2_lang_id", "l3_hash_dedup",
    "l4_jaccard_neardup", "l5_minhash_lsh", "l8_simhash_neardup", "l9_fingerprints",
    "l14_dedup_clusters", "l18_tfidf_topterms", "l26_edit_neardup",
    "l30_repeated_span_scrub", "l50_line_dedup", "l103_distinct_ngrams")

  private def entries(s: org.apache.spark.sql.SparkSession): Int = s.conf.get(Key).toInt

  test("prep sets room for the generated classes and never lowers a larger size") {
    assert(entries(Tables.prep(spark)) >= Entries)
    assert(entries(Tables.prep(spark)) >= Entries, "a second prep changed the size")
    val other = spark.newSession()
    other.sessionState.conf.setConfString(Key, (Entries * 5).toString)
    assert(entries(Tables.prep(other)) == Entries * 5, "prep lowered a larger size")
  }

  test("a second curation round compiles almost nothing") {
    val build = LlmQueries.cacheBuilders.toMap
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      LlmQueries.clearShingleCache()
      build("shingles")(spark, Sf)
      Curation.foreach(q => SparkEntry.queries(q)(spark, Sf).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    val second = round()
    info(s"compiles per round: $first, then $second")
    assert(second <= 30, s"compiles per round: $first, then $second")
  }
}
