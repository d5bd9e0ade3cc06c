package perfbench

/** Minimal JSON writer for the harness's output files: maps, sequences,
  * strings, numbers, booleans, null, and the date and time values Spark
  * rows carry (as ISO strings).
  */
object Json {
  private val IsoTime = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME

  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: java.math.BigDecimal => sb.append(n.toPlainString)
    case n: Number => sb.append(n.toString)
    case d: java.sql.Date => str(sb, d.toLocalDate.toString)
    case t: java.time.LocalDateTime => str(sb, t.format(IsoTime))
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
