package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame: its row count plus the exact sum of a
  * 64-bit hash of each row over every column. Hashing every column forces the
  * whole result to be computed; a bare `count()` lets the optimizer prune
  * projected columns and hides their cost. Doubles are rounded to 6 decimals
  * before hashing, so a summation order that differs only in the last bits
  * does not read as a different result.
  */
object Fingerprint {
  final case class Value(rows: Long, hash: BigDecimal) {
    def render: String = s"$rows:$hash"
  }

  private val HashSum = DecimalType(38, 0)

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** A value that hashes the same whatever order or bits-level noise
    * produced it: rounded doubles, maps as key-sorted entry arrays. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case _ if !needsCanon(t) => c
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canonical(e.getField("key"), kt).as("k"),
        canonical(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
  }

  /** One-row frame: `rows`, `hash`, then any `extra` aggregates. Columns are
    * renamed by position first (c0, c1, ...), so duplicate or dotted names
    * cannot collide; `extra` refers to them by those names. */
  def frame(df: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val types = df.schema.fields.map(_.dataType)
    val named = df.toDF(types.indices.map(i => s"c$i"): _*)
    val cols = types.indices.map(i => canonical(col(s"c$i"), types(i)))
    val aggs = Seq(
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(HashSum)), lit(0).cast(HashSum)).as("hash")) ++ extra
    named.agg(aggs.head, aggs.tail: _*)
  }

  def read(row: Row): Value = Value(row.getLong(0), BigDecimal(row.getDecimal(1)))

  def of(df: DataFrame): Value = read(frame(df).collect()(0))
}
