package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  *
  * Canonical text: columns sorted by name, values joined by U+001F; doubles,
  * floats and decimals rounded to 6 significant digits (half-even) and
  * written without trailing zeros; timestamps as epoch microseconds (UTC),
  * dates as epoch days; arrays, structs and maps written recursively, map entries
  * sorted. `crosscheck.py` implements the same encoding for DuckDB results.
  */
object Fingerprint {

  final case class Fp(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  private val Digits = new MathContext(6, RoundingMode.HALF_EVEN)

  private def decimal(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(Digits).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else decimal(new JBigDecimal(d))
    case f: Float => value(f.toDouble)
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case b: Boolean => if (b) "true" else "false"
    case s: String => s
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case r: Row => r.toSeq.map(value).mkString("{", "\u001f", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (value(k), value(x)) }.sorted
        .map { case (k, x) => s"$k=$x" }.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 64-bit row hash: the first 8 bytes of the MD5 of the canonical text. */
  def rowHash(canonical: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(canonical.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Canonical text of one row, columns taken in `order` (indices sorted by
    * column name). */
  def rowText(r: Row, order: Array[Int]): String =
    order.iterator.map(i => value(r.get(i))).mkString("\u001f")

  def columnOrder(names: Seq[String]): Array[Int] =
    names.zipWithIndex.sortBy(_._1).map(_._2).toArray

  def ofRows(names: Seq[String], rows: Iterator[Row]): Fp = {
    val order = columnOrder(names)
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += rowHash(rowText(r, order)) }
    Fp(n, h)
  }

  def of(df: DataFrame): Fp = {
    val names = df.schema.fieldNames.toSeq
    df.rdd
      .mapPartitions(it => Iterator(ofRows(names, it)))
      .fold(Fp(0L, 0L))((a, b) => Fp(a.rows + b.rows, a.hash + b.hash))
  }
}
