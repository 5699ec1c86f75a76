package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's own arithmetic:
  * `python3 perfbench/run.py --self-test`. Exits non-zero on a failure. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    // the percentile rule: highest percentile with >= 10 samples beyond it
    check("p90 of 100 samples stays p90")(Stats.effectivePercentile(90, 100) == 90.0)
    check("p90 of 36 samples drops to p72.2")(
      math.abs(Stats.effectivePercentile(90, 36) - 100.0 * 26 / 36) < 1e-12)
    check("exactly 10 samples beyond p75 of 40")(Stats.effectivePercentile(90, 40) == 75.0)
    check("20 or fewer samples report the median")(
      Stats.effectivePercentile(90, 20) == 50.0 && Stats.effectivePercentile(90, 1) == 50.0)
    check("p50 is never raised")(Stats.effectivePercentile(50, 1000) == 50.0)
    check("interpolated percentile")(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    check("reported p90 of 1..36 is the p72.2 value")(
      math.abs(Stats.reported((1 to 36).map(_.toDouble), 90) - (1 + 35 * 26.0 / 36)) < 1e-9)

    // span self time = span minus its direct children
    val spans = Seq(
      Span(0, "pass", -1, 1, 0L, 10000000000L),
      Span(1, "a", 0, 1, 1000000000L, 5000000000L),
      Span(2, "a.x", 1, 1, 1000000000L, 2000000000L),
      Span(3, "a.y", 1, 1, 3000000000L, 4500000000L),
      Span(4, "b", 0, 1, 6000000000L, 9000000000L))
    val self = Span.selfSeconds(spans)
    check("root self time excludes its children")(math.abs(self(0) - 3.0) < 1e-9)
    check("inner self time excludes grandchildren once")(math.abs(self(1) - 1.5) < 1e-9)
    check("leaf self time is its length")(math.abs(self(3) - 1.5) < 1e-9 && math.abs(self(4) - 3.0) < 1e-9)
    check("self times sum to the root")(math.abs(self.values.sum - 10.0) < 1e-9)

    // the digest does not depend on row or column order
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.1, if (i % 7 == 0) None else Some(i % 3 == 0)))
    val a = rows.toDF("k", "s", "x", "b").repartition(3)
    val b = scala.util.Random.shuffle(rows).toDF("k", "s", "x", "b").coalesce(1)
      .select("x", "b", "s", "k")
    val da = Digest.of(a); val db = Digest.of(b)
    check("digest ignores row and column order")(da.matches(db) && da.rows == 500)
    val c = rows.updated(10, (11L, "changed", 1.1, Some(false))).toDF("k", "s", "x", "b")
    check("digest sees a changed cell")(!Digest.of(c).matches(da))
    val d = rows.updated(10, (11L, "s11", 1.2, Some(false))).toDF("k", "s", "x", "b")
    check("digest sees a changed float")(!Digest.of(d).matches(da))
    spark.stop()

    println(if (failed == 0) "all self-tests passed" else s"$failed self-test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
