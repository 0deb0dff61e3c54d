package graft.perfbench

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the harness's result and span files, and the
  * canonical result digest shared with `perfbench/oracle.py`. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def parse(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))

  // ---- canonical result digest -------------------------------------------
  // The same normalisation as scripts/crosscheck.py: columns sorted by name,
  // rows in result order, integers kept apart from floating point, DECIMAL
  // compared as a double, timestamps as UTC microseconds. Floating point is
  // compared on its exact bits (with -0.0 folded into 0.0), so the digest is
  // as strict as crosscheck's value equality.

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(sec: Long, nano: Int): Long = sec * 1000000L + nano / 1000

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "d" + d.toLocalDate.toString
    case d: java.time.LocalDate => "d" + d.toString
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case other => "o" + other.toString
  }

  /** sha256 over the canonical rows of a collected result. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u001f").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update("\n".getBytes("UTF-8"))
      md.update(order.map(i => canon(r.get(i))).mkString("\u001f").getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
