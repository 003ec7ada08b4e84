package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a whole frame: the row count plus the sums
  * of the low and high 32-bit halves of each row's all-column xxhash64.
  * The sums cannot overflow below 2^31 rows, so the digest is exact and
  * the same for any row order or partitioning.
  *
  * Floating-point values (top level, in arrays and in structs) are
  * rounded to [[DoubleDecimals]] decimals first, so a different summation
  * order upstream cannot move the digest.
  */
object Digest {

  val DoubleDecimals = 4

  case class Value(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:${java.lang.Long.toHexString(lo)}:${java.lang.Long.toHexString(hi)}"
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), DoubleDecimals)
    case ArrayType(et, _) if needsNormalizing(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if fs.exists(f => needsNormalizing(f.dataType)) =>
      struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _ => c
  }

  private def needsNormalizing(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNormalizing(et)
    case StructType(fs) => fs.exists(f => needsNormalizing(f.dataType))
    case _ => false
  }

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.map(f => normalize(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)

  private val parts = Seq(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
    sum(shiftrightunsigned(col("h"), 32)))

  private def value(r: org.apache.spark.sql.Row, at: Int): Value =
    Value(r.getLong(at), if (r.isNullAt(at + 1)) 0L else r.getLong(at + 1),
      if (r.isNullAt(at + 2)) 0L else r.getLong(at + 2))

  /** One job: reads every column, so column pruning cannot skip work. */
  def of(df: DataFrame): Value =
    value(df.select(rowHash(df).as("h")).agg(parts.head, parts.tail: _*).first(), 0)

  /** Digests of several frames in one job. */
  def ofAll(frames: Seq[(String, DataFrame)]): Map[String, Value] = {
    val found = frames.map { case (name, df) => df.select(lit(name).as("t"), rowHash(df).as("h")) }
      .reduce(_ union _)
      .groupBy(col("t")).agg(parts.head, parts.tail: _*)
      .collect().map(r => r.getString(0) -> value(r, 1)).toMap
    frames.map { case (name, _) => name -> found.getOrElse(name, Value(0L, 0L, 0L)) }.toMap
  }
}
