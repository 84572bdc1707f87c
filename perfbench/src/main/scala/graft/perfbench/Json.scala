package graft.perfbench

/** Minimal JSON writer for the harness's result file: maps, sequences,
  * arrays, numbers, booleans, strings, `None`, and [[Json.Raw]] for text that
  * is already JSON (Spark's streaming progress).
  */
object Json {
  final case class Raw(json: String)

  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case Raw(j) => sb ++= j
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: java.math.BigDecimal => quote(sb, n.toPlainString)
    case m: Map[_, _] =>
      sb += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        quote(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case xs: Array[_] => write(sb, xs.toSeq)
    case p: Product => write(sb, p.productIterator.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
