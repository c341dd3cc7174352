package perfbench

import scala.util.hashing.MurmurHash3

/** Order-insensitive result fingerprint: the row count plus the wrapping
  * sum of a 64-bit hash of each row's canonical text. Floating-point
  * values are rounded to nine significant digits so that summation order
  * inside a parallel aggregate cannot change the fingerprint. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => fmt(b.doubleValue)
    case b: scala.math.BigDecimal => fmt(b.toDouble)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)

  def rowHash(row: String): Long =
    (MurmurHash3.stringHash(row, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(row, 0x5bd1e995).toLong & 0xffffffffL)

  /** (row count, hex fingerprint) of canonical row strings. */
  def fingerprint(rows: Iterator[String]): (Long, String) = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    (n, f"$h%016x")
  }

  def rowText(r: org.apache.spark.sql.Row): String = r.toSeq.map(value).mkString("|")
}
