package perfbench

/** Minimal JSON writer for the benchmark's result and trace records. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float            => value(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: Map[_, _]        => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
                                  .mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(value).mkString("[", ",", "]")
    case Raw(json)           => json
    case other               => str(other.toString)
  }

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}
