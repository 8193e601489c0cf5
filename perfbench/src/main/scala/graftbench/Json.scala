package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the result file (no JSON library on the
  * engine's classpath is part of its API). Values: null, Boolean, numbers,
  * String, Seq, Map[String, _]. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else java.lang.Double.toString(d)

  /** A result cell in the shape the oracle comparison expects: timestamps as
    * "ts:<epoch micros>", dates as "date:<iso>", nested values as lists; any
    * other type becomes its string, which the oracle will not match. */
  def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => s"ts:${t.getTime / 1000 * 1000000L + t.getNanos / 1000}"
    case t: LocalDateTime => // TIMESTAMP_NTZ, read as UTC
      val i = t.toInstant(ZoneOffset.UTC)
      s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case d: java.sql.Date => s"date:$d"
    case d: java.math.BigDecimal => d.doubleValue
    case r: Row => r.toSeq.map(cell)
    case s: scala.collection.Seq[_] => s.map(cell)
    case b: Boolean => b
    case n: Number => n
    case s: String => s
    case other => other.toString
  }

  def rows(rs: Array[Row]): String = apply(rs.toSeq.map(r => r.toSeq.map(cell)))
}
