package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result, computed the same way
  * from Spark rows here and from DuckDB rows in `record_oracle.py`.
  *
  * Each cell is rendered canonically: every number as the hex bits of its
  * float64 value (-0.0 folded into 0.0; the oracle compare also treats
  * numbers as float64), booleans as true/false, timestamps as epoch
  * microseconds, dates as ISO text, lists element-wise, null as \N. A row
  * is `name=cell` over the columns sorted by name, joined by \u0001; its
  * hash is the first 8 bytes of its SHA-256; the fingerprint is the sum of
  * the row hashes mod 2^64, so row order does not matter but multiplicity
  * does.
  */
object Fingerprint {

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case s: String => s
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.sql.Timestamp => cell(t.toInstant)
    case t: java.time.LocalDateTime => cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case other => other.toString
  }

  private def num(d: Double): String = {
    val x = if (d == 0.0) 0.0 else d
    if (x.isNaN) "NaN" else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))
  }

  def rowHash(names: Seq[String], cells: Seq[Any]): Long = {
    val text = names.zip(cells).sortBy(_._1)
      .map { case (n, v) => n + "=" + cell(v) }.mkString("\u0001")
    val h = MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(schema: StructType, rows: Iterable[Row]): String = {
    val names = schema.fieldNames.toSeq
    var sum = 0L
    rows.foreach(r => sum += rowHash(names, (0 until r.length).map(r.get)))
    f"${sum}%016x"
  }
}
