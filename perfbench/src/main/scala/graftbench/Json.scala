package graftbench

import java.time.format.DateTimeFormatter
import java.time.{LocalDateTime, ZoneOffset}

/** Minimal JSON writer for the run record. Result cells keep their type:
  * decimals become {"d": "<plain>"} so the checker compares them exactly,
  * timestamps become ISO text in UTC, floats their double value. */
object Json {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def iso(t: LocalDateTime): String = {
    val base = t.format(Iso)
    if (t.getNano == 0) base else base + f".${t.getNano / 1000}%06d"
  }

  // NaN is written as null, the way tools/check.py reads it
  private def num(d: Double): String =
    if (d.isNaN) "null" else if (d.isInfinite) str(d.toString) else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => s"""{"d":${str(d.toPlainString)}}"""
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case t: java.sql.Timestamp => str(iso(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC)))
    case t: java.time.Instant => str(iso(LocalDateTime.ofInstant(t, ZoneOffset.UTC)))
    case t: LocalDateTime => str(iso(t))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case b: Array[Byte] => str(b.map(x => f"$x%02x").mkString)
    case r: org.apache.spark.sql.Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse((0 until r.length).map(_.toString))
      names.indices.map(i => s"${str(names(i))}:${value(r.get(i))}").mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(String.valueOf(k))}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An object from already-encoded values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
