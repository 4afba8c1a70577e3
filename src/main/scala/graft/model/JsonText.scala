package graft.model

/** Minimal deterministic JSON-text builder for driver-side metadata facets
  * (the `Properties.attributes` JSON-string column). Keys are emitted in
  * the order given; callers sort when determinism matters.
  */
private[graft] object JsonText {
  /** Escapes quote, backslash and EVERY control character (< 0x20): one
    * tab or CR left raw in builder-authored SQL would make a consumer's
    * `json.load` of Verify's oracle dump fail outright. */
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def str(s: String): String = "\"" + escape(s) + "\""

  /** `{"k":"v",...}` over string values. */
  def obj(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
