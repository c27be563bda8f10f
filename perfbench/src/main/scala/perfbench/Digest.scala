package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An output digest that ignores row order: the row count plus the sum of
  * a 64-bit hash of each row over all its columns.
  *
  * Columns are hashed in name order. Float and double values, at any
  * nesting depth, are rounded to 6 decimals first, as
  * `tools/check_oracle.py` rounds them, so a sum whose last bits depend on
  * task order still digests the same. Maps are hashed as their entries
  * sorted by key. The hash sum is accumulated as a decimal, so it never
  * overflows under ANSI arithmetic.
  */
object Digest {

  private def needsNormalizing(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType | _: MapType => true
    case ArrayType(et, _) => needsNormalizing(et)
    case StructType(fs) => fs.exists(f => needsNormalizing(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needsNormalizing(et) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, vn) =>
      val entry = ArrayType(StructType(Seq(
        StructField("key", kt, nullable = false), StructField("value", vt, vn))))
      normalize(array_sort(map_entries(c)), entry)
    case StructType(fs) if needsNormalizing(dt) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** One-row frame `(rows: long, hash_sum: decimal)` over `df`. Its
    * execution runs every column of `df`'s plan, like a noop write.
    */
  def frame(df: DataFrame): DataFrame = {
    // Positional renaming: join outputs may repeat a column name.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex
      .sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => normalize(named.col(s"c$i"), f.dataType) }
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(rowHash.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("hash_sum"))
  }

  /** `rows:hash_sum`, the printed form of a collected [[frame]] row. */
  def render(rows: Long, hashSum: java.math.BigDecimal): String =
    s"$rows:${hashSum.toBigInteger}"

  def of(df: DataFrame): String = {
    val r = frame(df).collect()(0)
    render(r.getLong(0), r.getDecimal(1))
  }
}
