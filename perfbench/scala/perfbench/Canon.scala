package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Row count plus an order-independent checksum of a result set.
  *
  * Each row is rendered canonically, hashed with MD5 (first 8 bytes) and
  * the hashes are summed mod 2^64, so the result does not depend on row
  * order or partitioning. `oracle.py` renders DuckDB rows the same way.
  * Doubles are compared by their IEEE bits (`exact`) or rounded to six
  * decimals (`rounded`, for averages whose summation order differs
  * between Spark and the plain-Scala replay).
  */
final case class Digest(rows: Long, sum: String)

object Canon {

  def cell(v: Any, rounded: Boolean): String = v match {
    case null => "\\N"
    case None => "\\N"
    case Some(x) => cell(x, rounded)
    case d: Double if rounded => "r" + math.round(d * 1e6).toString
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => cell(f.toDouble, rounded)
    case b: Boolean => if (b) "true" else "false"
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: LocalDateTime =>
      "t" + (t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: LocalDate => "D" + d.toEpochDay
    case xs: scala.collection.Seq[_] => xs.map(cell(_, rounded)).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  def rowHash(cells: Seq[Any], rounded: Boolean): Long = {
    val md = MessageDigest.getInstance("MD5")
    val b = md.digest(cells.map(cell(_, rounded)).mkString("\u001f").getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
    h
  }

  def ofCells(rows: Iterable[Seq[Any]], rounded: Boolean = false): Digest = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(r, rounded); n += 1 }
    Digest(n, java.lang.Long.toUnsignedString(sum))
  }

  def ofRows(rows: Array[Row], rounded: Boolean = false): Digest =
    ofCells(rows.map(_.toSeq), rounded)
}
