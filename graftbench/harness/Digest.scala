package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent digest of a query result, computed the same way by
  * `oracle.py` over the DuckDB oracle's rows, so a Spark result can be checked
  * against its oracle without shipping rows between processes.
  *
  * Columns are taken in name order. Each value is rendered to a canonical
  * string: integral numbers (of any type) as their decimal digits, other
  * doubles by their IEEE bits, strings, dates, timestamps (epoch µs, UTC),
  * arrays and structs/maps (entries sorted) recursively. A row hashes to the
  * first 8 bytes of the SHA-256 of its rendering; the digest is the row count,
  * the sum of row hashes mod 2^64, and the sorted column names.
  */
object Digest {

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1)
    var sum = 0L
    val sha = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val s = order.map { case (_, i) => canon(r.get(i)) }.mkString("\u001f")
      val h = sha.digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rows.length}:${sum}%016x:${order.map(_._1).mkString(",")}"
  }

  private val MaxExactLong = 9.223372036854775807e18

  def num(d: Double): String =
    if (d.isNaN) "n:nan"
    else if (d.isInfinite) (if (d > 0) "n:inf" else "n:-inf")
    else if (d == math.floor(d) && math.abs(d) < MaxExactLong) "n:" + d.toLong
    else f"n:${java.lang.Double.doubleToRawLongBits(d)}%016x"

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "b:T" else "b:F"
    case x: Byte => "n:" + x
    case x: Short => "n:" + x
    case x: Int => "n:" + x
    case x: Long => "n:" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0 || x.stripTrailingZeros.scale <= 0) "n:" + x.toBigInteger
      else num(x.doubleValue)
    case x: scala.math.BigDecimal => canon(x.bigDecimal)
    case s: String => "s:" + s
    case d: java.sql.Date => "d:" + d.toLocalDate
    case d: java.time.LocalDate => "d:" + d
    case t: java.sql.Timestamp => "t:" + micros(t.toInstant)
    case t: java.time.Instant => "t:" + micros(t)
    case t: java.time.LocalDateTime => "t:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      entries(names.zipWithIndex.map { case (n, i) => ("s:" + n, canon(r.get(i))) })
    case m: scala.collection.Map[_, _] => entries(m.toSeq.map { case (k, x) => (canon(k), canon(x)) })
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"digest: unsupported value type ${other.getClass.getName}")
  }

  private def entries(kv: Seq[(String, String)]): String =
    kv.sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
