package perfbench

/** Minimal JSON rendering for the benchmark's reports and change feeds:
  * strings, numbers, booleans, null, sequences and (ordered) maps.
  */
object Json {

  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case '\n'         => b ++= "\\n"
      case '\r'         => b ++= "\\r"
      case '\t'         => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    b += '"'
    b.result()
  }

  def render(v: Any): String = v match {
    case null                         => "null"
    case s: String                    => quote(s)
    case b: Boolean                   => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                    => d.toString
    case n: Int                       => n.toString
    case n: Long                      => n.toString
    case o: Option[_]                 => o.fold("null")(render)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]              => xs.map(render).mkString("[", ",", "]")
    case other                        => quote(other.toString)
  }
}
