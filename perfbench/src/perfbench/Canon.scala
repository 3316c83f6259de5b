package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: the row count and the
  * wrapping sum of one 64-bit hash per row.
  *
  * Canonical form of a row: its columns sorted by name, each written as
  * `name=value` and joined by U+001F. Values:
  *  - null: `~`
  *  - boolean: `b:T` / `b:F`
  *  - any number: `#` and round(v * 10^4) as an exact integer (integers
  *    are multiplied exactly; floating and decimal values are rounded half
  *    up in double arithmetic), so 5 and 5.0 agree and float noise below
  *    1e-4 is ignored
  *  - string: `s:` and the text
  *  - timestamp: `t:` and microseconds since the epoch (UTC); date: `d:`
  *    and days since the epoch
  *  - binary: `x:` and lowercase hex
  *  - array: `[` elements joined by `,` `]`; struct: `{` fields joined by
  *    `,` `}`; map: `m{` `k:v` entries sorted, joined by `,` `}`
  * Row hash: the first 8 bytes of MD5(UTF-8 canonical form), big-endian.
  */
object Canon {
  private val Scale = BigInteger.valueOf(10000L)

  private def num(d: Double): String =
    if (d.isNaN) "#nan"
    else if (d.isInfinite) (if (d > 0) "#inf" else "#-inf")
    else "#" + new JBigDecimal(math.floor(d * 1e4 + 0.5)).toBigInteger.toString

  def value(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "b:T" else "b:F"
    case x: Byte => "#" + BigInteger.valueOf(x.toLong).multiply(Scale)
    case x: Short => "#" + BigInteger.valueOf(x.toLong).multiply(Scale)
    case x: Int => "#" + BigInteger.valueOf(x.toLong).multiply(Scale)
    case x: Long => "#" + BigInteger.valueOf(x).multiply(Scale)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: JBigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case b: Array[Byte] => "x:" + b.map(x => "%02x".formatLocal(java.util.Locale.ROOT, x & 0xff)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("m{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => "s:" + other.toString
  }

  def rowString(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1).map { case (n, i) => n + "=" + value(r.get(i)) }
      .mkString("\u001f")

  def rowHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (row count, fingerprint as 16 hex digits) */
  def fingerprint(names: Seq[String], rows: Array[Row]): (Long, String) = {
    var h = 0L
    rows.foreach(r => h += rowHash(rowString(names, r)))
    (rows.length.toLong, "%016x".formatLocal(java.util.Locale.ROOT, h))
  }
}
