package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a query result, computed the same way
  * by `run.py` over the DuckDB oracle's result. Columns are sorted by name;
  * every value is written in one canonical form (numbers as their exact
  * decimal value, so 5, 5.0 and DECIMAL 5.00 agree; timestamps as UTC
  * microseconds; dates as epoch days); each row is hashed and the sorted row
  * hashes are hashed again. Two results match iff they hold the same
  * multiset of rows, which is the comparison `tools/check_oracle.py` makes. */
object Canon {
  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case x: String => x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant => "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      value(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "d" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "d" + x.toEpochDay
    case x: Array[Byte] => "x" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + ":" + value(w) }.sorted
        .mkString("{", ",", "}")
    case x: Row => x.toSeq.map(value).mkString("(", ",", ")")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else dec(new java.math.BigDecimal(d))

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Canonical rows, columns in name order. */
  def lines(cols: Seq[String], rows: Array[Row]): Array[String] = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
  }

  def fingerprint(cols: Seq[String], rows: Array[Row]): String = {
    val hashes = lines(cols, rows).map(sha256)
    java.util.Arrays.sort(hashes.asInstanceOf[Array[AnyRef]])
    sha256(cols.sorted.mkString("\u0001") + "\n" + hashes.mkString("\n"))
  }
}
