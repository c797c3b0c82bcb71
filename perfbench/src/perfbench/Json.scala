package perfbench

/** Already-encoded JSON, embedded verbatim. */
final case class RawJson(json: String)

/** Minimal JSON encoder for the harness's result file (no extra deps). */
object Json {
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}")

  def enc(v: Any): String = v match {
    case null | None => "null"
    case RawJson(j) => j
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${enc(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
