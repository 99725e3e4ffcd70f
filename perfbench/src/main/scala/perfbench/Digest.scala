package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a result: the row count plus the wrapping
  * sum of a 64-bit hash per row. A row hashes its values in column-name
  * order, so the digest does not depend on row order or column order.
  * Floating-point values are rounded to 10 significant digits first:
  * the summation order of a parallel aggregate may move the last bits.
  */
final case class Digest(rows: Long, sum: Long) {
  def hex: String = f"$sum%016x"
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def -(o: Digest): Digest = Digest(rows - o.rows, sum - o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  private val mc = new MathContext(10)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => rowString(r)
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  private def order(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  private def rowString(r: Row): String =
    if (r.schema == null) r.toSeq.map(canon).mkString("(", "\u0001", ")")
    else order(r.schema).map(i => canon(r.get(i))).mkString("(", "\u0001", ")")

  def rowHash(r: Row): Long = {
    val s = rowString(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1ce).toLong & 0xffffffffL)
  }

  def ofRows(rows: Iterable[Row]): Digest =
    rows.foldLeft(empty)((d, r) => Digest(d.rows + 1, d.sum + rowHash(r)))

  /** Collects `df` into this JVM; use on results that fit in memory. */
  def of(df: DataFrame): Digest = ofRows(df.collect().toSeq)
}
