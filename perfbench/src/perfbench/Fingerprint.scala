package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: the wrapping sum
  * of a 64-bit hash per row (so duplicate rows count), plus a hash of
  * the column names. Values are rendered canonically first, so a map
  * column's entry order or a negative zero does not change it.
  */
object Fingerprint {

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x6b43a9b5).toLong & 0xffffffffL)

  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, 16-hex-digit fingerprint). */
  def of(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val sum = rows.foldLeft(hash64(columns.mkString(","))) { (acc, r) => acc + hash64(canon(r)) }
    (rows.length.toLong, f"$sum%016x")
  }
}
