package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}

/** JSON-lines sink for everything a run measures; `run.py` reads it back
  * and derives the metrics and checks from it.
  */
final class Records(path: String) {
  private val out = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path), StandardCharsets.UTF_8))

  def write(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write((("t" -> kind) +: fields).map { case (k, v) =>
      Records.quote(k) + ":" + Records.value(v) }.mkString("{", ",", "}\n"))
  }

  def close(): Unit = synchronized(out.close())
}

object Records {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case other => quote(other.toString)
  }
}

/** Row count and an order-insensitive checksum of a query result.
  *
  * Each row is rendered canonically (doubles to 6 significant digits,
  * map entries sorted, -0.0 as 0) and hashed to 64 bits; the checksum is
  * the wrapping sum of the row hashes, so row order never matters while
  * a changed, missing or duplicated row does.
  */
object Checksum {
  def of(df: DataFrame): (Long, String) = {
    val (n, sum) = df.rdd.map(r => (1L, rowHash(r)))
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    (n, f"$sum%016x")
  }

  def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
}
