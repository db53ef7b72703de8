package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** A hash of a query result that `pin.py` reproduces from DuckDB's answer:
  * columns in name order, rows in result order, numbers as six-decimal
  * fixed point, timestamps as UTC `yyyy-MM-dd HH:mm:ss.SSSSSS`. */
object Canon {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def number(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString
      if (s.matches("-0\\.0+")) s.substring(1) else s
    }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case f: Float => number(f.toDouble)
    case d: Double => number(d)
    case d: JBigDecimal => number(d.doubleValue)
    case d: scala.math.BigDecimal => number(d.toDouble)
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    case t: java.sql.Timestamp => TsFmt.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case t: Instant => TsFmt.format(t.atOffset(ZoneOffset.UTC))
    case t: LocalDateTime => TsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** sha-256 (first 16 hex digits) of the header line and one line per row. */
  def hash(columns: Seq[String], rows: Seq[Seq[Any]]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    def line(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    line(order.map(columns(_)).mkString("\t"))
    rows.foreach(r => line(order.map(i => value(r(i))).mkString("\t")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def hashRows(columns: Seq[String], rows: Array[Row]): String =
    hash(columns, rows.toSeq.map(_.toSeq))
}
