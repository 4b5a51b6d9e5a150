package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive fingerprints: row count, the sum of 32-bit row hashes
  * and their xor. Row order and partitioning never change them; a lost,
  * extra, duplicated or altered row does.
  */
final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Fingerprint {

  /** Spark-side fingerprint of `cols` of `df`, in one aggregation job. */
  def of(df: DataFrame, cols: String*): Fingerprint = {
    val hh = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(hh.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(bit_xor(hh), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Canonical text of a value, as tools/check_oracle.py canonicalizes:
    * floats to 10 significant digits, binary as hex.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString

  /** Driver-side fingerprint of collected rows, columns sorted by name. */
  def ofRows(columns: Seq[String], rows: Array[Row]): Fingerprint = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(text, 17).toLong << 32) |
        (MurmurHash3.stringHash(text, 31).toLong & 0xFFFFFFFFL)
      sum += h & 0xFFFFFFFFL
      xor ^= h
    }
    Fingerprint(rows.length.toLong, sum, xor)
  }
}
