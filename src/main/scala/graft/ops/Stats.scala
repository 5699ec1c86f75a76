package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Scale-safe scalar statistics.
  *
  * Spark's exact `median()`/`percentile()` is a TypedImperativeAggregate that
  * buffers EVERY value in a single aggregation buffer — a multi-GB buffer and
  * an executor OOM at 100× data, impossible at 100 TB. These helpers keep the
  * exact (pandas-interpolating, codes.py:35) semantics with distributed
  * plans, via iterative histogram refinement: bucket-count the value range
  * (one shared aggregation job for ANY number of columns), locate the
  * bucket(s) holding the middle order statistics from the cumulative counts,
  * then either group-collect that bucket (bounded rows) or recurse into it.
  * Each level shrinks the range 8192×, so real data resolves in one level and
  * even adversarial data exhausts double precision within ~6. No step ships
  * more than `maxCollect` distinct values to the driver.
  */
object Stats {

  /** One column whose exact interpolated median is wanted, with its non-null
    * count and min/max — callers fold these into an existing aggregation job
    * (Features.Ep1Scalars) or use [[exactMedians]] which computes them. */
  final case class MedianSpec(name: String, c: Column, n: Long, lo: Double, hi: Double)

  /** The stats pre-pass: each named column's non-null count and min/max,
    * for all of them in ONE aggregate. Columns with no non-null value are
    * left out. */
  private def specsOf(df: DataFrame, cols: Seq[(String, Column)]): Seq[MedianSpec] = {
    val aggs = cols.flatMap { case (_, c) =>
      val v = c.cast(DoubleType)
      Seq(count(v), min(v), max(v))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.collect { case ((name, c), i) if r.getLong(3 * i) > 0L =>
      MedianSpec(name, c, r.getLong(3 * i), r.getDouble(3 * i + 1), r.getDouble(3 * i + 2))
    }
  }

  /** Exact interpolated medians of named columns: one stats pre-pass plus
    * the shared histogram/pick rounds, whatever the column count. A column
    * with no non-null value has no entry. */
  def exactMedians(df: DataFrame, cols: Seq[(String, Column)]): Map[String, Double] = {
    val specs = specsOf(df, cols)
    if (specs.isEmpty) Map.empty else mediansFromStats(df, specs)
  }

  /** Exact interpolated median of one column: (n odd) the middle value,
    * (n even) the mean of the two middle values — pandas `Series.median`.
    * None on empty/all-null input (never throws, ADVICE r02). Typical cost:
    * 3 jobs — stats agg, histogram, bucket pick — independent of data size. */
  def exactMedian(df: DataFrame, c: Column): Option[Double] =
    exactMedians(df, Seq("m" -> c)).get("m")

  /** Exact medians for many columns in shared jobs (one histogram job + one
    * pick job per refinement level, regardless of column count).
    * `nb`/`maxCollect` are exposed for tests to force deep recursion. */
  def mediansFromStats(
      df: DataFrame,
      specs: Seq[MedianSpec],
      nb: Int = 8192,
      maxCollect: Long = 1L << 20): Map[String, Double] = {
    require(specs.forall(_.n > 0L))
    val resolved = orderStats(df, specs.map { s =>
      val mid = (s.n - 1L) / 2L
      s -> (if (s.n % 2L == 0L) Seq(0 -> mid, 1 -> (mid + 1L)) else Seq(0 -> mid))
    }, nb, maxCollect)
    specs.map { s =>
      val mids = (0 until (if (s.n % 2L == 0L) 2 else 1)).map(oi => resolved((s.name, oi)))
      s.name -> mids.sum / mids.size
    }.toMap
  }

  /** Exact linear-interpolated quantiles (`quantile_cont` / pandas
    * `Series.quantile`): for each p, idx = (n−1)·p, result = v⌊idx⌋ +
    * frac·(v⌊idx⌋₊₁ − v⌊idx⌋). Same shared histogram-refinement jobs as
    * the medians — ANY number of columns × quantiles resolves in one
    * stats-independent histogram + pick round per level, and no step
    * buffers a column on one executor (the scale hazard of Spark's exact
    * `percentile`). Returns name → values aligned with `ps`. */
  def quantilesFromStats(
      df: DataFrame,
      specs: Seq[MedianSpec],
      ps: Seq[Double],
      nb: Int = 8192,
      maxCollect: Long = 1L << 20): Map[String, Seq[Double]] = {
    require(specs.forall(_.n > 0L))
    require(ps.forall(p => p >= 0.0 && p <= 1.0))
    // per spec: quantile i needs order stats tagged (2i) = ⌊idx⌋ and,
    // when idx is fractional, (2i+1) = ⌊idx⌋+1
    val wanted = specs.map { s =>
      s -> ps.zipWithIndex.flatMap { case (p, i) =>
        val idx = (s.n - 1L) * p
        val kLo = math.floor(idx).toLong
        val frac = idx - kLo
        if (frac > 0.0) Seq(2 * i -> kLo, (2 * i + 1) -> (kLo + 1L))
        else Seq(2 * i -> kLo)
      }
    }
    val resolved = orderStats(df, wanted, nb, maxCollect)
    specs.map { s =>
      s.name -> ps.zipWithIndex.map { case (p, i) =>
        val idx = (s.n - 1L) * p
        val frac = idx - math.floor(idx)
        val vLo = resolved((s.name, 2 * i))
        if (frac > 0.0) vLo + frac * (resolved((s.name, 2 * i + 1)) - vLo)
        else vLo
      }
    }.toMap
  }

  /** Exact interpolated quantiles of one column: None on empty/all-null
    * input (never throws — the exactMedian contract, ADVICE r02),
    * otherwise the values aligned with `ps`. One stats job + the shared
    * histogram/pick rounds. */
  def exactQuantiles(df: DataFrame, c: Column, ps: Seq[Double]): Option[Seq[Double]] =
    specsOf(df, Seq("q" -> c)).headOption.map(spec => quantilesFromStats(df, Seq(spec), ps)("q"))

  /** Exact DISCRETE quantiles (`quantile_disc` / SQL PERCENTILE_DISC):
    * the smallest element whose cumulative rank reaches p — order stat
    * k = max(0, ⌈p·n⌉ − 1), zero-based. Always a REAL data value (never
    * interpolated — the semantics a report needs when the column is a
    * code, a price tier, or anything where a synthetic midpoint is
    * meaningless). Same shared histogram-refinement jobs as the CONT
    * form; None on empty/all-null input. */
  def exactQuantilesDisc(df: DataFrame, c: Column, ps: Seq[Double]): Option[Seq[Double]] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0))
    specsOf(df, Seq("q" -> c)).headOption.map { spec =>
      val wanted = Seq(spec -> ps.zipWithIndex.map { case (p, i) =>
        i -> math.max(0L, math.ceil(p * spec.n).toLong - 1L)
      })
      val resolved = orderStats(df, wanted, 8192, 1L << 20)
      ps.indices.map(i => resolved(("q", i)))
    }
  }

  /** Exact interpolated quantiles per GROUP of a (small, enum-like) key:
    * each group is one predicated spec in the SAME shared jobs — no
    * executor ever buffers a group's values (Spark's grouped `percentile`
    * does). Null-safe on both axes: a null group KEY matches via `<=>`,
    * and a group whose values are all null maps to None. Returns
    * group key (null included) → per-`ps` values. */
  def groupQuantiles(df: DataFrame, groupCol: Column, c: Column,
      ps: Seq[Double]): Map[Option[String], Option[Seq[Double]]] = {
    val stats = df.groupBy(groupCol.cast("string").as("__g"))
      .agg(count(c.cast(DoubleType)).as("n"),
        min(c.cast(DoubleType)).as("lo"), max(c.cast(DoubleType)).as("hi"))
      .collect()
    val keyed = stats.map(r => (Option(r.getString(0)), r)).toSeq
    val specs = keyed.collect { case (key, r) if r.getLong(1) > 0L =>
      // spec names are strings: the 'k:' prefix keeps every real key off
      // the bare "null" sentinel (a real "null" key becomes "k:null"), so
      // no out-of-band byte is needed (ADVICE r07: an embedded NUL made
      // git treat this file as binary)
      val name = key.map("k:" + _).getOrElse("null")
      (key, MedianSpec(name,
        when(groupCol.cast("string") <=> key.map(lit(_)).getOrElse(lit(null)), c),
        r.getLong(1), r.getDouble(2), r.getDouble(3)))
    }
    val meds =
      if (specs.isEmpty) Map.empty[String, Seq[Double]]
      else quantilesFromStats(df, specs.map(_._2), ps)
    keyed.map { case (key, _) =>
      key -> specs.collectFirst { case (`key`, sp) => meds(sp.name) }
    }.toMap
  }

  /** Per-group exact interpolated quantile, WINDOWED two-pass form — the
    * high-cardinality companion to [[groupQuantiles]]. That form plans one
    * predicated spec per group on the DRIVER, which is right for
    * enum-like keys (d12's contract) and wrong past a few thousand
    * groups; this form never leaves the executors: rank each value inside
    * its group and attach the group size (two window functions over ONE
    * hash exchange on the key — the second needs no ordering, so it reuses
    * the first's sort), keep only the two order statistics bracketing
    * idx = (n−1)·p, and interpolate vLo + frac·(vHi − vLo) — the same
    * formula, the same IEEE sequence, as [[quantilesFromStats]]
    * (StatsProps pins the two forms equal on random grouped data).
    * Millions of groups cost that one exchange; the price is the
    * per-group sort inside the window (spillable, skew-bounded by the
    * largest single group — at 100 TB prefer this form whenever the key
    * set is not enum-like, and the shared-histogram form when it is).
    * Null group keys are a group like any other; a group with only null
    * values produces NO row (where [[groupQuantiles]] maps it to None).
    * Returns (g, q, n). */
  def groupQuantileWindowed(df: DataFrame, groupCol: Column, c: Column,
      p: Double): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"quantile must be in [0,1], got $p")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.as("g"), c.cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)
    val rn0 = row_number().over(Window.partitionBy("g").orderBy("v")).cast("long") - 1L
    val idx = (col("n") - 1L).cast(DoubleType) * lit(p)
    base
      .select(col("g"), col("v"), rn0.as("rn"),
        count(lit(1)).over(Window.partitionBy("g")).as("n"))
      .filter(col("rn") === floor(idx).cast("long") ||
        col("rn") === ceil(idx).cast("long"))
      .groupBy("g")
      .agg(min("v").as("vlo"), max("v").as("vhi"), max("n").as("n"))
      .select(col("g"),
        (col("vlo") + (idx - floor(idx)) * (col("vhi") - col("vlo"))).as("q"),
        col("n"))
  }

  /** The shared refinement engine: resolve arbitrary 0-based ascending
    * order statistics (tagged per spec) for many columns at once. */
  private def orderStats(
      df: DataFrame,
      items: Seq[(MedianSpec, Seq[(Int, Long)])],
      nb: Int,
      maxCollect: Long): Map[(String, Int), Double] = {
    val maxDepth = 6

    // (spec name, statistic tag) -> value
    val resolved = scala.collection.mutable.Map.empty[(String, Int), Double]
    // ks: (statistic tag, 0-based index within rows matching pred, asc order)
    final case class P(spec: MedianSpec, pred: Column, lo: Double, hi: Double,
        ks: Seq[(Int, Long)], depth: Int)
    final case class G(spec: MedianSpec, pred: Column, ks: Seq[(Int, Long)])

    var pending: Seq[P] = items.map { case (s, ks) =>
      P(s, s.c.cast(DoubleType).isNotNull, s.lo, s.hi, ks, 0)
    }

    while (pending.nonEmpty) {
      val (trivial, rest) = pending.partition(p => !(p.lo < p.hi))
      trivial.foreach(p => p.ks.foreach { case (oi, _) => resolved((p.spec.name, oi)) = p.lo })

      var toGroup = Seq.empty[G]
      var recursions = Seq.empty[P]
      if (rest.nonEmpty) {
        // ONE histogram job for every still-active column
        def bucketOf(p: P): Column = {
          val w = (p.hi - p.lo) / nb
          least(greatest(floor((p.spec.c.cast(DoubleType) - p.lo) / w), lit(0.0)), lit((nb - 1).toDouble))
            .cast("long")
        }
        val entries = rest.zipWithIndex.map { case (p, i) =>
          struct(lit(i).as("tag"), when(p.pred, bucketOf(p)).otherwise(lit(null)).as("bucket"))
        }
        val hist = df.select(explode(array(entries: _*)).as("e"))
          .select(col("e.tag").as("tag"), col("e.bucket").as("bucket"))
          .filter(col("bucket").isNotNull)
          .groupBy("tag", "bucket").count()
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

        rest.zipWithIndex.foreach { case (p, i) =>
          val counts = (0 until nb).map(b => hist.getOrElse((i, b.toLong), 0L))
          val cumBefore = counts.scanLeft(0L)(_ + _) // cumBefore(b) = rows in buckets < b
          // group this column's wanted order statistics by containing bucket
          val byBucket = p.ks.groupBy { case (_, k) =>
            var b = 0
            while (b < nb - 1 && cumBefore(b + 1) <= k) b += 1
            b
          }
          byBucket.foreach { case (b, ksHere) =>
            val localKs = ksHere.map { case (oi, k) => (oi, k - cumBefore(b)) }
            val w = (p.hi - p.lo) / nb
            val bLo = p.lo + b * w
            val bHi = if (b == nb - 1) p.hi else p.lo + (b + 1) * w
            val pred2 = p.pred && bucketOf(p) === b.toLong
            val cnt = counts(b)
            if (cnt <= maxCollect || p.depth + 1 >= maxDepth || !(bLo < bHi))
              toGroup :+= G(p.spec, pred2, localKs)
            else
              recursions :+= P(p.spec, pred2, bLo, bHi, localKs, p.depth + 1)
          }
        }
      }

      if (toGroup.nonEmpty) {
        // ONE pick job: group-collect each target bucket's distinct values.
        // Bounded: either ≤ maxCollect rows, or the range is so narrow that
        // distinct doubles are ulp-limited.
        val entries = toGroup.zipWithIndex.map { case (g, i) =>
          struct(lit(i).as("tag"),
            when(g.pred, g.spec.c.cast(DoubleType)).otherwise(lit(null)).as("value"))
        }
        val grouped = df.select(explode(array(entries: _*)).as("e"))
          .select(col("e.tag").as("tag"), col("e.value").as("value"))
          .filter(col("value").isNotNull)
          .groupBy("tag", "value").count()
          .collect()
          .groupBy(_.getInt(0))
        toGroup.zipWithIndex.foreach { case (g, i) =>
          val vals = grouped(i).map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
          g.ks.foreach { case (oi, k) =>
            var cum = 0L
            val v = vals.collectFirst { case (value, c) if { cum += c; cum > k } => value }.get
            resolved((g.spec.name, oi)) = v
          }
        }
      }
      pending = recursions
    }
    resolved.toMap
  }

  /** Mode with pandas' `mode()[0]` tie-break: the SMALLEST value among the
    * most frequent (codes.py:83-87, SURVEY §4.3-7). Distributed group-by
    * count + TakeOrderedAndProject; None on empty/all-null input. */
  def exactModeString(df: DataFrame, c: Column): Option[String] = {
    df.select(c.as("v")).filter(col("v").isNotNull)
      .groupBy("v").count()
      .orderBy(desc("count"), asc("v")).limit(1)
      .collect().headOption.map(_.getString(0))
  }
}
