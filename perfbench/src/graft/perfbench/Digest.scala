package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent fingerprint of a result set, computed as one
  * aggregate so it doubles as the sink that forces the query to run.
  *
  * Exact columns (integers, strings, booleans, dates, timestamps) are
  * rendered to text, joined per row, md5-hashed, and the hash halves are
  * summed over rows: a sum does not depend on row order. Floating columns
  * (float, double, decimal) are summed instead and compared with a
  * tolerance, since summation order moves their last bits. perfbench/oracle.py
  * computes the same fingerprint in DuckDB. */
final case class Digest(columns: Seq[String], rows: Long, h1: Long, h2: Long,
    floats: Seq[FloatSum]) {

  def matches(o: Digest): Boolean =
    columns == o.columns && rows == o.rows && h1 == o.h1 && h2 == o.h2 &&
      floats.size == o.floats.size && floats.zip(o.floats).forall { case (a, b) => a.near(b) }

  def toJson: String =
    s"""{"columns":[${columns.map(c => "\"" + c.replace("\"", "\\\"") + "\"").mkString(",")}],""" +
      s""""rows":$rows,"h1":$h1,"h2":$h2,"floats":[${floats.map(_.toJson).mkString(",")}]}"""
}

/** Sum and absolute sum of a column's finite values, with the count of
  * null-or-NaN and of infinite cells. */
final case class FloatSum(sum: Double, abs: Double, nulls: Long, infs: Long) {
  def near(o: FloatSum): Boolean =
    nulls == o.nulls && infs == o.infs &&
      math.abs(sum - o.sum) <= 1e-7 * math.max(1.0, math.max(abs, o.abs))
  def toJson: String = s"""{"sum":${Digest.num(sum)},"abs":${Digest.num(abs)},"nulls":$nulls,"infs":$infs}"""
}

object Digest {
  private[perfbench] def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def isFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Text form of an exact cell, identical to perfbench/oracle.py's DuckDB
    * rendering; complex values only contribute their null-ness. */
  private def render(c: Column, t: DataType): Column = t match {
    case StringType => c
    case ByteType | ShortType | IntegerType | LongType | DateType => c.cast(StringType)
    case BooleanType => c.cast(LongType).cast(StringType)
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case BinaryType => hex(c)
    case _ => when(c.isNotNull, lit("?"))
  }

  private def half(h: Column, from: Int): Column =
    conv(substring(h, from, 7), 16, 10).cast(LongType)

  /** The digest of `df`, computed in one Spark job. Columns are taken in
    * name order, so column order does not matter either. */
  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy(_._1.name)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def c(i: Int): Column = col(s"c$i")
    val exact = fields.filterNot(f => isFloat(f._1.dataType))
    val floats = fields.filter(f => isFloat(f._1.dataType))
    val row = if (exact.isEmpty) lit("") else concat_ws("\u0001",
      exact.map { case (f, i) => coalesce(render(c(i), f.dataType), lit("\u0002")) }: _*)
    val h = md5(row.cast(BinaryType))
    val aggs = Seq(count(lit(1)), sum(half(h, 1)), sum(half(h, 8))) ++ floats.flatMap { case (_, i) =>
      val d = c(i).cast(DoubleType)
      val finite = d.isNotNull && !isnan(d) && abs(d) <= Double.MaxValue
      Seq(sum(when(finite, d)), sum(when(finite, abs(d))),
        count(when(d.isNull || isnan(d), 1)), count(when(abs(d) > Double.MaxValue, 1)))
    }
    val r = pos.agg(aggs.head, aggs.tail: _*).head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    def dbl(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    Digest(fields.map(_._1.name), r.getLong(0), l(1), l(2),
      floats.indices.map(k => FloatSum(dbl(3 + 4 * k), dbl(4 + 4 * k), l(5 + 4 * k), l(6 + 4 * k))))
  }
}
