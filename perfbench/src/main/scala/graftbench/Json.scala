package graftbench

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the run's result and check files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(d.toString)
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => render(n.doubleValue)
    case n: BigDecimal => render(n.toDouble)
    case n: Number => n.longValue.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One result value in the engine-neutral form the checks compare:
    * instants as epoch microseconds (UTC), dates as ISO strings, structs
    * and arrays as lists, integral doubles as integers. */
  def canon(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime * 1000 + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000 + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sortBy(_.toString)
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case b: java.math.BigDecimal => b.doubleValue
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case other => other
  }

  /** Rows as a canonical, order-free JSON document. */
  def rows(columns: Seq[String], rs: Seq[Row]): String = {
    val body = rs.map(r => render(canon(r))).sorted
    "{\"columns\":" + render(columns) + ",\"rows\":[" + body.mkString(",") + "]}"
  }
}
