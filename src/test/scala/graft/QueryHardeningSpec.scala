package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{ExtQueries, MlQueries}

/** Edge-hardening pins for declared queries whose oracle fixture cannot
  * reach the edge itself: f5's window-order totality under adversarial
  * ties (the fixture's ties happen to be full-row duplicates — here they
  * are not left to luck), h11's report math on degenerate confusion
  * matrices (the fixture always populates both classes), and the
  * statsCache eviction hook across data dirs. */
class QueryHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("f5: rolling mean output is invariant to input order and partitioning") {
    import spark.implicits._
    // adversarial ties: one constant shipdate, (orderkey, linenumber)
    // colliding every 8 rows with DIFFERENT prices (the hazard ADVICE r07
    // flagged — frame accumulation order would differ without the price
    // tiebreak), plus exact full-row duplicates (i vs i + 24)
    val rows = for (sk <- 1 to 3; i <- 0 until 48) yield (
      sk,
      java.sql.Date.valueOf("2023-01-15"),
      (i % 4).toLong,
      i % 2,
      10.0 * (i % 6))
    val base = rows.toDF(
      "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
    val expected = ExtQueries.rollingMeanFrame(base.repartition(1))
      .collect().map(_.toSeq).toSeq
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val variants = Seq(
      shuffled.toDF("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice").repartition(7),
      base.repartition(5)
        .sortWithinPartitions($"l_extendedprice".desc, $"l_orderkey".desc))
    for (v <- variants) {
      val got = ExtQueries.rollingMeanFrame(v).collect().map(_.toSeq).toSeq
      assert(got == expected,
        "rolling mean depended on input order/partitioning")
    }
  }

  test("d17 ewma engine: fixed point, geometric impulse decay, group " +
      "isolation, partitioning invariance") {
    import spark.implicits._
    val rows = Seq(
      // group a: constant series — EWMA must be the fixed point
      ("a", "2024-01-07", 5.0), ("a", "2024-01-14", 5.0),
      ("a", "2024-01-21", 5.0),
      // group b: unit impulse — y decays as (1-alpha)^t exactly
      ("b", "2024-01-07", 1.0), ("b", "2024-01-14", 0.0),
      ("b", "2024-01-21", 0.0), ("b", "2024-01-28", 0.0))
    val df = rows.toDF("event_type", "we", "x")
    def run(v: org.apache.spark.sql.DataFrame) =
      ExtQueries.ewma(v, alpha = 0.3)
        .orderBy("event_type", "week_ending").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(3))).toSeq
    val got = run(df)
    assert(got.filter(_._1 == "a").map(_._3) === Seq(5.0, 5.0, 5.0),
      "a constant series is an EWMA fixed point")
    assert(got.filter(_._1 == "b").map(_._3) === Seq(1.0, 0.7, 0.49, 0.343),
      "an impulse must decay by (1-alpha) per step: the recursive form")
    // groups fold independently (b's impulse never leaks into a), and the
    // single-row-fold result cannot depend on physical layout
    assert(run(df.repartition(7)) === got &&
      run(df.orderBy($"x".desc).repartition(3)) === got,
      "ewma depended on input order/partitioning")
  }

  test("h11: degenerate confusion matrices yield null (None), never NaN") {
    import graft.ml.Metrics
    // cm = [[TN, FP], [FN, TP]]
    // every prediction negative → class-1 precision denominator is 0
    val r1 = Metrics.report(Array(Array(3L, 0L), Array(5L, 0L)))(1)
    assert(r1.precision.isEmpty && r1.recall.contains(0.0) && r1.f1.isEmpty &&
      r1.support == 5L)
    // class absent from the truth → recall denominator is 0
    val r2 = Metrics.report(Array(Array(3L, 5L), Array(0L, 0L)))(1)
    assert(r2.precision.contains(0.0) && r2.recall.isEmpty && r2.f1.isEmpty &&
      r2.support == 0L)
    // p = r = 0 → the f1 p+r guard, not 0/0
    val r3 = Metrics.report(Array(Array(0L, 6L), Array(4L, 2L)))(0)
    assert(r3.precision.contains(0.0) && r3.recall.contains(0.0) && r3.f1.isEmpty &&
      r3.support == 6L)
    for (r <- Seq(r1, r2, r3); v <- Seq(r.precision, r.recall, r.f1).flatten)
      assert(!v.isNaN && !v.isInfinite)
  }

  test("l40 packer: best-fit ties and oversize docs, invariant to partitioning") {
    import spark.implicits._
    import graft.queries.LlmQueries
    val cap = 100L
    // engineered sizes in ONE shard: 60+60 then 30s — after the two 60s
    // open two bins at load 60 (an exact equal-load tie: the 30 must go
    // to the LOWER bin id), plus an oversize doc (150 > cap) that must
    // sit alone, plus 10s that backfill
    val sizes = Seq(150L, 60L, 60L, 30L, 30L, 30L, 10L, 10L, 10L, 10L)
    val base = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong, 0L, n) }
    val expected = BfdRef.pack(base, cap)
    // the tie case actually fired: the two 60-docs opened bins 1 and 2,
    // and the first 30 landed in bin 1 (lowest id at equal load 60)
    assert(expected.exists { case (_, _, n, bid, off) => n == 30L && bid == 1L && off == 60L })
    // oversize doc is alone in its bin
    val osBin = expected.find(_._3 == 150L).get._4
    assert(expected.count(_._4 == osBin) == 1)
    for (parts <- Seq(1, 3, 7)) {
      val got = LlmQueries.bfdPack(base.toDS().repartition(parts), cap)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === expected, s"packing diverged at $parts input partitions")
    }
  }

  test("l40 packer matches the reference BFD on random size mixes") {
    import spark.implicits._
    import graft.queries.LlmQueries
    // randomized equivalence: the open-bin TreeMap's (load, MaxValue−bid)
    // key encoding and close-on-full rules must match the straightforward
    // reference on arbitrary mixes — same-size runs, oversize docs,
    // exact-fit fills, multi-shard interleavings
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 8) {
      val nDocs = 30 + rnd.nextInt(40)
      val base = (0 until nDocs).map { i =>
        (i.toLong, (i % (1 + rnd.nextInt(3))).toLong, 1L + rnd.nextInt(130))
      }
      val expected = BfdRef.pack(base, cap = 100L)
      val got = LlmQueries.bfdPack(
          base.toDS().repartition(1 + rnd.nextInt(5)), cap = 100L)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === expected, s"trial $trial diverged (seed 7)")
    }
  }

  test("l50 engine: within-doc repeats count once toward df; survivors keep order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 1 repeats line "a" (df must stay 1 — both copies survive in
    // place); line "c" sits in docs 2,3,4 → df 3 ≥ tau → removed
    val docs = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq("c", "d")),
      (3L, Seq("e", "c")),
      (4L, Seq("c"))).toDF("doc_id", "lines")
    val got = graft.queries.LlmQueries.frequentLineDedup(docs, tau = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 3L, "a\nb\na"),
      (2L, 2L, 1L, "d"),
      (3L, 2L, 1L, "e"),
      (4L, 1L, 0L, "")))
    // partition invariance: the df aggregate and regroup are key-hashed,
    // never order-sensitive
    val re = graft.queries.LlmQueries.frequentLineDedup(docs.repartition(7), tau = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(re === got)
  }

  test("l52 engine: constant group has PSI 0; a full shift stays finite and large") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val const = (1 to 40).map(i => ("k", 5.0, i <= 20))
    // ref uniform-ish on [0, 19], cur fully shifted to [100, 119]: every
    // ref bin empties on the cur side and bin 10 takes all cur mass —
    // smoothing must keep every term finite
    val shift = (0 until 20).map(i => ("s", i.toDouble, true)) ++
      (0 until 20).map(i => ("s", 100.0 + i, false))
    val got = graft.queries.LlmQueries.driftPsi(
        (const ++ shift).toDF("event_type", "value", "is_ref"))
      .orderBy("event_type").as[(String, Long, Long, Double)].collect()
    val Array(k, sRow) = got
    assert(k._1 === "k" && k._2 === 20L && k._3 === 20L && k._4 === 0.0,
      s"identical constant eras must score PSI 0, got $k")
    assert(sRow._1 === "s" && sRow._4 > 1.0 && !sRow._4.isInfinite && !sRow._4.isNaN,
      s"a full shift must be large but finite, got $sRow")
  }

  test("statsCache: clearStatsCache across two dirs, reruns stay correct") {
    val d1 = "/root/testdata/sf0.001"
    val d2 = "/root/testdata/sf0.01"
    def auc(d: String): Double =
      MlQueries.h9_roc_auc.fn(spark, d).collect().head.getDouble(0)
    val a1 = auc(d1)
    val a2 = auc(d2)
    MlQueries.clearStatsCache()
    assert(auc(d1) == a1, "post-eviction rerun diverged for dir 1")
    assert(auc(d2) == a2, "post-eviction rerun diverged for dir 2")
  }

  test("a13 text roundtrip: a tab INSIDE the text survives the limit-2 split") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_text_rt").toString
    val src = Seq((7L, "left part\tright part"), (8L, "no tab here"))
      .toDF("doc_id", "text")
    src.select(concat(col("doc_id").cast("string"), lit("\t"), col("text"))
        .as("value"))
      .write.mode("overwrite").text(s"$tmp/t")
    val back = spark.read.text(s"$tmp/t")
      .select(split(col("value"), "\t", 2).as("p"))
      .select(element_at(col("p"), 1).cast("long").as("doc_id"),
        element_at(col("p"), 2).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(7L) == "left part\tright part",
      "only the FIRST tab may delimit — text tabs belong to the payload")
    assert(back(8L) == "no tab here")
  }

  test("g5/g6: multiset semantics — duplicates keep m-n and min(m,n) rows") {
    import spark.implicits._
    // value 1: m=3 vs n=1 → except all 2, intersect all 1
    // value 2: m=1 vs n=2 → except all 0, intersect all 1
    val a = Seq(1, 1, 1, 2).toDF("v")
    val b = Seq(1, 2, 2).toDF("v")
    assert(a.exceptAll(b).as[Int].collect().sorted.toSeq == Seq(1, 1),
      "EXCEPT ALL must keep m-n copies")
    assert(a.intersectAll(b).as[Int].collect().sorted.toSeq == Seq(1, 2),
      "INTERSECT ALL must keep min(m, n) copies")
  }

  test("a15 malformed JSON: PERMISSIVE quarantines the raw line verbatim; " +
      "DROPMALFORMED keeps only parsed rows; FAILFAST throws") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_badjson").toString
    val badLine = """{CORRUPT id=14 not json"""
    Seq("""{"doc_id":1,"lang":"en","n_chars":10}""",
      badLine,
      """{"doc_id":2,"lang":"de","n_chars":20}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$tmp/j")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$tmp/j").collect()
    val corrupt = permissive.filter(!_.isNullAt(3))
    assert(corrupt.length == 1 && corrupt(0).getString(3) == badLine,
      "the quarantine column must hold the broken line VERBATIM (lossless)")
    assert(permissive.filter(_.isNullAt(3)).map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "parsed rows must land typed next to the quarantined one")
    val dropped = spark.read
      .schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(s"$tmp/j").collect()
    assert(dropped.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "DROPMALFORMED silently loses the bad row — which is why a15 doesn't use it")
    val ff = intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.fields.dropRight(1)))
        .option("mode", "FAILFAST").json(s"$tmp/j").collect()
    }
    assert(ff.getMessage != null, "FAILFAST must abort the read on the bad row")
  }

  test("d15: every event lands in exactly two hopping windows, and each " +
      "window aggregates exactly the events inside its 14-day span") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, sf)
    val nEvents = ev.count()
    val got = graft.queries.ExtQueries.d15_hopping_window.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._3).sum === 2 * nEvents,
      "the 2x replication invariant of a 14d/7d hop must hold exactly")
    // replay each window membership from raw timestamps (UTC Mondays)
    val rows = ev.select(col("ts").cast("date").as("d"), col("value"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    def weekStart(d: java.time.LocalDate) =
      d.minusDays((d.getDayOfWeek.getValue + 6) % 7)
    val exp = rows.flatMap { case (d, v) =>
      Seq(0, 1).map(k => weekStart(d).minusDays(7L * k).plusDays(13) -> v)
    }.groupBy(_._1).map { case (we, xs) =>
      (we.toString,
        BigDecimal(xs.map(_._2).sum / xs.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        xs.length.toLong)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq.map(x => (x._1, x._3)) === exp.map(x => (x._1, x._3)),
      "window memberships must equal the replay")
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g._2 - e._2) < 1e-9, s"window ${g._1}: ${g._2} vs ${e._2}")
    }
  }

  test("c14: the profile's null / distinct / mean counters on a frame " +
      "WITH nulls (the committed tables have none), and the all-null column") {
    import spark.implicits._
    // x: 2 nulls, 3 distinct non-null values; y: ALL null (min/max/mean
    // must go null, not 0); z: constant
    val df = Seq(
      (Some(1.0), None: Option[Double], 5.0),
      (Some(2.0), None, 5.0),
      (Some(2.0), None, 5.0),
      (None, None, 5.0),
      (Some(4.0), None, 5.0),
      (None, None, 5.0)).toDF("x", "y", "z")
    val got = ExtQueries.columnProfile(df, Seq("x", "y", "z")).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = got("x")
    assert(x.getLong(1) === 6L && x.getLong(2) === 2L && x.getLong(3) === 3L)
    assert(x.getDouble(4) === 1.0 && x.getDouble(5) === 4.0)
    assert(x.getDouble(6) === 2.25, "mean over NON-NULL rows only (9/4)")
    val y = got("y")
    assert(y.getLong(1) === 6L && y.getLong(2) === 6L && y.getLong(3) === 0L)
    assert(y.isNullAt(4) && y.isNullAt(5) && y.isNullAt(6),
      "an all-null column profiles to null stats, not zeros")
    val z = got("z")
    assert(z.getLong(2) === 0L && z.getLong(3) === 1L && z.getDouble(6) === 5.0)
  }

  test("d23: the two-level weighted median equals the naive full-window " +
      "form on random weighted data, and a hand fixture with an exact " +
      "2F(x)=W boundary picks the boundary value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 4).flatMap { g =>
      (1 to 300).map(_ => (s"g$g", rnd.nextInt(50) * 1.0 + rnd.nextInt(100),
        1.0 + rnd.nextInt(9)))
    }
    val df = rows.toDF("grp", "x", "w")
    val got = ExtQueries.weightedMedianByGroup(df, col("grp"), col("x"), col("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // naive replay: per group, sort by x, first x with 2*cumw >= totw
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val byX = rs.groupBy(_._2).map { case (x, xs) =>
        x -> BigDecimal(xs.map(_._3).sum).setScale(2)
      }.toSeq.sortBy(_._1)
      val tot = byX.map(_._2).sum
      var cum = BigDecimal(0)
      g -> byX.collectFirst {
        case (x, w) if { cum += w; cum * 2 >= tot } => x
      }.get
    }
    want.foreach { case (g, x) =>
      assert(got(g) === x, s"group $g: two-level pick diverges from naive")
    }
    // exact boundary: weights 1,1 on values 10,20 -> 2F(10)=2=W picks 10
    val edge = Seq(("e", 10.0, 1.0), ("e", 20.0, 1.0)).toDF("grp", "x", "w")
    val eGot = ExtQueries.weightedMedianByGroup(
      edge, col("grp"), col("x"), col("w")).collect().head
    assert(eGot.getDouble(2) === 10.0,
      "the LOWER weighted median takes the exact 2F(x)=W boundary value")
  }

  test("e13 Intervals: exact-duplicate and equal-start intervals coalesce " +
      "identically under any input order/partitioning (the scaladoc's " +
      "multiset claim, not left to luck)") {
    import spark.implicits._
    // duplicates, an equal-start pair with different ends, a swallower,
    // and a disjoint tail — the tie classes the order argument covers
    val iv = Seq((1L, 0L, 50L), (1L, 0L, 50L), (1L, 0L, 10L),
      (1L, 40L, 45L), (1L, 60L, 70L), (1L, 60L, 61L))
    def run(rows: Seq[(Long, Long, Long)], parts: Int) =
      graft.ops.Intervals.coalesce(
        rows.toDF("user_id", "st", "en").repartition(parts))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).sortBy(_._1).toSeq
    val base = run(iv, 1)
    assert(base === Seq((1L, 0L, 50L, 4L), (2L, 60L, 70L, 2L)),
      s"two islands, the second opened past the max-end: $base")
    Seq(iv.reverse, scala.util.Random.shuffle(iv)).zipWithIndex.foreach {
      case (perm, i) =>
        assert(run(perm, 7) === base, s"permutation $i must not move islands")
    }
    // a single-interval user is one island of one event
    assert(run(Seq((9L, 5L, 6L)), 3) === Seq((1L, 5L, 6L, 1L)))
  }

  test("l201 coverageGaps: a single-day group reads span 1, zero missing, " +
      "zero longest gap — the lead() null edge") {
    import spark.implicits._
    import java.sql.Date
    val one = Seq(("solo", Date.valueOf("2024-03-07"))).toDF("g", "d")
    val r = graft.queries.LlmQueries.coverageGaps(one).collect()(0)
    assert((r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6)) === (("2024-03-07", 1L, 1L, 0L, 0L)))
  }

  test("a21 compaction: rerunning the query is idempotent — the overwrite " +
      "contract holds and checksums are bit-stable") {
    val sf = "/root/testdata/sf0.001"
    val first = graft.queries.CoreQueries.a21_compaction.fn(spark, sf)
      .collect()(0)
    val second = graft.queries.CoreQueries.a21_compaction.fn(spark, sf)
      .collect()(0)
    assert(first.toSeq === second.toSeq,
      "a rerun over the same scratch paths must reproduce the checksums")
  }
}
