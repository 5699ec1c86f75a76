package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior) join — pandas `merge_asof` / DuckDB `ASOF
  * JOIN`: each left row picks the right row with the LARGEST right.ts ≤
  * left.ts within its key group, or nulls when no prior right row exists
  * (left-outer semantics).
  *
  * Spark-first plan, NOT a range join: a `l.ts >= r.ts` theta-join would
  * explode to O(|L|·|R|) per key before an argmax prunes it back — the
  * classic range-join blowup. Instead both sides UNION into one frame
  * ordered by (ts, side) per key, and a running `last(right row, ignore
  * nulls)` over ROWS UNBOUNDED PRECEDING carries the most recent right
  * row onto every subsequent left row: ONE shuffle on the key, one
  * linear pass per partition, never a pair blowup. Right rows sort
  * before left rows at equal ts, so ties match (ASOF's `l.ts >= r.ts`
  * includes equality). The picked right columns travel as ONE struct
  * that is non-null exactly on right rows — the null-skipping `last`
  * keys on "is a right row", never on a picked value happening to be
  * null, and the whole match is one window expression.
  *
  * Skewed keys: the running window is a per-key linear pass, so a hot key
  * serializes into one task. Splitting a key needs exact (not sampled)
  * split boundaries plus a per-split carried seed.
  *
  * Determinism: right rows sharing an exact (key, ts) are ordered
  * arbitrarily among themselves — pass a right frame distinct on
  * (key, ts) (or pre-aggregate) when that matters.
  *
  * @param pick right column → output column name; every other right
  *             column is dropped.
  */
object AsOf {
  def join(left: DataFrame, right: DataFrame, key: String, ts: String,
      pick: Map[String, String]): DataFrame = {
    // temp names prefixed against collision with caller columns
    val (row, side, m) = ("__asof_row", "__asof_side", "__asof_match")
    require(!left.columns.exists(Set(row, side, m)),
      s"left frame may not contain reserved columns $row/$side/$m")
    val r = right.select(col(key), col(ts),
      struct(pick.map { case (c, o) => col(c).as(o) }.toSeq: _*).as(row))
    val u = left.withColumn(side, lit(1))
      .unionByName(r.withColumn(side, lit(0)), allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u.withColumn(m, last(col(row), ignoreNulls = true).over(w))
    val outCols = left.columns.map(col) ++
      pick.values.map(o => col(m).getField(o).as(o))
    matched.filter(col(side) === 1).select(outCols.toSeq: _*)
  }

  /** Nearest-neighbor as-of join — pandas `merge_asof(direction=
    * 'nearest')`: each left row picks the right row minimizing |Δts|
    * within its key group; ties between an equally-distant prior and
    * next go to the PRIOR (pandas' backward tie rule, declared); nulls
    * when the key has no right rows at all (left-outer).
    *
    * Plan: TWO of [[join]]'s linear running-window passes over the same
    * unioned frame — one ascending (most-recent-prior-or-equal), one
    * descending (nearest-following-or-equal) — then a per-row struct
    * pick by exact integer microsecond distance. Still ONE shuffle on
    * the key (both windows share the partitioning; Catalyst reuses the
    * exchange), one linear pass each way, never a pair blowup — the
    * naive formulation is a per-key cross join with an argmin, the
    * classic O(|L|·|R|) trap the backward join's scaladoc warns about.
    *
    * The Δ compare uses unix_micros exact longs (never interval or
    * float arithmetic), so the tie rule is an exact integer decision on
    * both engines.
    *
    * Extra ts output: callers usually want the matched timestamp — put
    * the right ts column in `pick` like any other column. */
  def nearest(left: DataFrame, right: DataFrame, key: String, ts: String,
      pick: Map[String, String]): DataFrame = {
    val (row, side, mb, mf) =
      ("__asof_row", "__asof_side", "__asof_prior", "__asof_next")
    require(!left.columns.exists(Set(row, side, mb, mf)),
      s"left frame may not contain reserved columns $row/$side/$mb/$mf")
    val tsName = "__asof_ts"
    val r = right.select(col(key), col(ts),
      struct((pick.map { case (c, o) => col(c).as(o) }.toSeq :+
        col(ts).as(tsName)): _*).as(row))
    val u = left.withColumn(side, lit(1))
      .unionByName(r.withColumn(side, lit(0)), allowMissingColumns = true)
    // right rows sort before left at equal ts in BOTH directions, so a
    // Δ=0 match is visible to each pass (the tie then picks the prior,
    // which is that same row)
    val wb = Window.partitionBy(key).orderBy(col(ts).asc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(key).orderBy(col(ts).desc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn(mb, last(col(row), ignoreNulls = true).over(wb))
      .withColumn(mf, last(col(row), ignoreNulls = true).over(wf))
    val dp = unix_micros(col(ts)) - unix_micros(col(mb).getField(tsName))
    val dn = unix_micros(col(mf).getField(tsName)) - unix_micros(col(ts))
    val useNext = col(mb).isNull || (col(mf).isNotNull && dn < dp)
    val chosen = when(useNext, col(mf)).otherwise(col(mb))
    val outCols = left.columns.map(col) ++
      pick.values.map(o => chosen.getField(o).as(o))
    matched.filter(col(side) === 1).select(outCols.toSeq: _*)
  }
}
