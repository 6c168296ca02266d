package graftbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

/** Engine-neutral text form of a result, identical to `canon.py`, so that a
  * Spark result and a DuckDB answer over the same parquet compare by digest.
  *
  * Columns are ordered by name; a row is its cells joined by a tab; the rows
  * are sorted by their UTF-8 bytes. Integers print exactly. Floating and
  * decimal values are rounded to 9 significant digits (half-even, from the
  * exact binary value), which absorbs summation-order differences between
  * the engines but not a wrong answer. Structs and maps print as their
  * key:value entries, sorted.
  */
object Canon {
  private val Digits = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(Digits).stripTrailingZeros.toPlainString

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else num(new JBigDecimal(d))

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def ts(ldt: java.time.LocalDateTime): String = {
    val base = ldt.format(TsFmt)
    val micros = ldt.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: BigInt => x.toString
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: BigDecimal => num(b.bigDecimal)
    case s: String => esc(s)
    case t: java.sql.Timestamp => ts(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => ts(t)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse(r.toSeq.indices.map(_.toString))
      entries(names.map(esc).zip(r.toSeq.map(cell)))
    case m: scala.collection.Map[_, _] => entries(m.toSeq.map { case (k, x) => (cell(k), cell(x)) })
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => esc(other.toString)
  }

  /** A struct or a map: its key:value entries, sorted. */
  private def entries(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => k + ":" + v }.sorted(ByUtf8).mkString("{", ",", "}")

  private val ByUtf8: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** A JSON value as `/api/q` streams it (Spark's JSON encoder). */
  def jsonCell(n: JsonNode): String =
    if (n == null || n.isNull || n.isMissingNode) "\\N"
    else if (n.isBoolean) n.booleanValue.toString
    else if (n.isIntegralNumber) n.bigIntegerValue.toString
    else if (n.isNumber) dbl(n.doubleValue)
    else if (n.isTextual) esc(n.textValue)
    else if (n.isArray) {
      val it = n.elements(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += jsonCell(it.next())
      b.result().mkString("[", ",", "]")
    } else {
      val it = n.fields(); val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += esc(e.getKey) -> jsonCell(e.getValue) }
      entries(b.result())
    }

  /** Rows of cells (already in sorted-column order) to sorted lines. */
  def lines(rows: Iterator[Seq[String]]): Array[String] = {
    val out = rows.map(_.mkString("\t")).toArray
    java.util.Arrays.sort(out, ByUtf8)
    out
  }

  def digest(sortedLines: Array[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var first = true
    sortedLines.foreach { l =>
      if (!first) md.update('\n'.toByte)
      md.update(l.getBytes(UTF_8)); first = false
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Column positions in name order. */
  def order(cols: Seq[String]): Seq[Int] = cols.zipWithIndex.sortBy(_._1).map(_._2)

  /** Sorted lines of collected Spark rows. */
  def ofRows(cols: Seq[String], rows: Array[Row]): Array[String] = {
    val idx = order(cols)
    lines(rows.iterator.map(r => idx.map(i => cell(r.get(i)))))
  }
}
