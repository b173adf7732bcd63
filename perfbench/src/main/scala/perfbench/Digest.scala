package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent digest of a collected result, in the style of the
  * s25 table digest: the row count next to the wrapping sum of a 64-bit
  * hash per row. Addition commutes, so neither row order nor partitioning
  * can change it.
  *
  * Each row is first rendered canonically: columns sorted by name, nulls as
  * a sentinel, doubles rounded to 10 significant digits and floats to 6
  * (so a different summation order cannot flip the last bits), array and
  * map elements sorted (so `collect_list` order does not matter), and
  * timestamps as UTC instants.
  */
object Digest {

  def of(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(canonicalRow(r)))
    f"${rows.size}%d:$sum%016x"
  }

  def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def canonicalRow(r: Row): String =
    if (r.schema == null) (0 until r.length).map(i => canonical(r.get(i))).mkString("(", "|", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + canonical(r.get(i)) }
      .mkString("(", "|", ")")

  def canonical(v: Any): String = v match {
    case null                    => "\u0000"
    case d: Double               => real(d, 10)
    case f: Float                => real(f.toDouble, 6)
    case t: java.sql.Timestamp   => t.toInstant.toString
    case t: java.time.Instant    => t.toString
    case d: java.sql.Date        => d.toLocalDate.toString
    case b: Array[Byte]          => b.map(x => f"$x%02x").mkString
    case r: Row                  => canonicalRow(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).sorted.mkString("[", ",", "]")
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case other                   => other.toString
  }

  private def real(d: Double, digits: Int): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits, java.math.RoundingMode.HALF_EVEN))
      .stripTrailingZeros
      .toString
}
