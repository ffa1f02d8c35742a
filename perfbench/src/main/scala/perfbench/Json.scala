package perfbench

/** Minimal JSON writer for the result object (maps, numbers, strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => throw new IllegalArgumentException(s"cannot write $other")
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
