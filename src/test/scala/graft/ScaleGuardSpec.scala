package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.ScaleGuardViolation

/** Integration pins for the ScaleGuard optimizer rule — the plan-time
  * linter GraftExtensions injects (plans/ScaleGuard.scala): the same two
  * scale-killers PlanShapeSpec pins in CI (single-task windows, accidental
  * cartesians) enforced inside the session so a SQL user hits them at
  * optimization time, not at week two of a 100 TB job. The suite builds a
  * REAL extensions-injected session (the `spark.sql.extensions` deployment
  * route) on the shared SparkContext, proving the wiring end to end. */
class ScaleGuardSpec extends AnyFunSuite {
  // touching TestSpark first guarantees the SparkContext exists and the
  // shared suite session is what we restore afterwards
  private lazy val base = TestSpark.spark

  /** Run `f` on a session built THROUGH the extensions route, restoring the
    * suite's default/active session handles afterwards. The underlying
    * SparkContext is shared; only the SparkSession (and so the injected
    * optimizer) differs. */
  private def withExtSession[T](f: SparkSession => T): T = {
    base.sparkContext // force the shared context into existence first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the programmatic twin of spark.sql.extensions=graft.plans.GraftExtensions
      // (the config route is a STATIC conf — it only applies when the
      // SparkContext itself is built, and the suite shares one context)
      val s = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions()(_))
        .config("spark.sql.shuffle.partitions", 8)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // before the first query: if this suite starts the test JVM, its
      // session is the one that sizes the generated-class cache
      f(graft.Tables.prep(s))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** The guard throws from inside optimization — unwrap defensively in
    * case the runtime layers a wrapper exception over rule failures. */
  private def guardViolation(body: => Unit): ScaleGuardViolation = {
    val e = intercept[Throwable](body)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case v: ScaleGuardViolation => v }
      .getOrElse(fail(s"expected a ScaleGuardViolation, got $e"))
  }

  test("scaleguard: unpartitioned window fails closed when armed, runs when off") {
    withExtSession { s =>
      import s.implicits._
      val df = Seq((1L, 2.0), (2L, 1.0), (3L, 3.0)).toDF("k", "v")
      def q() = df.withColumn("rk",
        row_number().over(Window.orderBy(col("v")))).collect()
      assert(q().length == 3, "guard must be OPT-IN: default session runs it")
      s.conf.set("spark.graft.scaleguard", "true")
      try {
        val v = guardViolation(q())
        assert(v.getMessage.contains("PARTITION BY") &&
          v.getMessage.contains("Metrics.sweep"),
          "the violation must name the fix, not just the crime")
      } finally s.conf.set("spark.graft.scaleguard", "false")
    }
  }

  test("scaleguard: hintless cross join fails closed; broadcast-hinted passes") {
    withExtSession { s =>
      import s.implicits._
      val big = (1L to 100L).toDF("a")
      val one = Seq(42L).toDF("b")
      s.conf.set("spark.graft.scaleguard", "true")
      try {
        val v = guardViolation(big.crossJoin(one).collect())
        assert(v.getMessage.contains("broadcast"),
          "the violation must point at crossJoin(broadcast(…))")
        assert(big.crossJoin(broadcast(one)).count() == 100L,
          "the engine's deliberate broadcast-attach shape must pass the guard")
        assert(big.join(one, col("a") === col("b")).count() == 1L,
          "conditioned joins are untouched")
      } finally s.conf.set("spark.graft.scaleguard", "false")
    }
  }

  test("scaleguard: a real engine query is guard-clean end to end") {
    withExtSession { s =>
      s.conf.set("spark.graft.scaleguard", "true")
      try {
        val rows = graft.queries.LlmQueries.l89_source_cap
          .fn(s, "/root/testdata/sf0.001").collect()
        assert(rows.length > 0, "l89 must run green under the armed guard")
      } finally s.conf.set("spark.graft.scaleguard", "false")
    }
  }
}
