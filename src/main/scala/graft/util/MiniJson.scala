package graft.util

/** Minimal dependency-free JSON AST + writer + recursive-descent parser for
  * the backend's persisted models. Deliberately tiny: objects, arrays,
  * strings, longs, booleans, null — exactly what the model codec emits.
  * (The engine's data path never goes through this; it is metadata-scale.)
  */
object MiniJson {
  sealed trait J
  final case class JStr(s: String) extends J
  final case class JNum(n: Long) extends J
  final case class JBool(b: Boolean) extends J
  final case class JArr(items: Seq[J]) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J
  case object JNull extends J

  object JObj {
    def of(fields: (String, J)*): JObj = JObj(fields.toSeq)
  }

  implicit final class JOps(private val j: J) extends AnyVal {
    def str: String = j.asInstanceOf[JStr].s
    def num: Long = j.asInstanceOf[JNum].n
    def arr: Seq[J] = j.asInstanceOf[JArr].items
    def obj: Map[String, J] = j.asInstanceOf[JObj].fields.toMap
    def apply(key: String): J = obj(key)
    def get(key: String): Option[J] = obj.get(key)
  }

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped, so query SQL with a tab or CR still parses on
    * the reading side. */
  def quote(s: String): String = "\"" + esc(s) + "\""

  private def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def render(j: J): String = j match {
    case JStr(s)     => quote(s)
    case JNum(n)     => n.toString
    case JBool(b)    => b.toString
    case JNull       => "null"
    case JArr(items) => items.map(render).mkString("[", ",", "]")
    case JObj(fs)    => fs.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")
  }

  def parse(s: String): J = {
    val p = new Parser(s)
    val j = p.value()
    p.skipWs()
    require(p.eof, s"trailing characters at ${p.pos} in: $s")
    j
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos in: $s")
      pos += 1
    }

    def value(): J = {
      skipWs()
      require(!eof, s"unexpected end of input in: $s")
      s.charAt(pos) match {
        case '{' => jobj()
        case '[' => jarr()
        case '"' => JStr(string())
        case 't' => literal("true"); JBool(true)
        case 'f' => literal("false"); JBool(false)
        case 'n' => literal("null"); JNull
        case _   => jnum()
      }
    }

    private def literal(lit: String): Unit = {
      require(s.regionMatches(pos, lit, 0, lit.length), s"bad literal at $pos in: $s")
      pos += lit.length
    }

    private def jnum(): JNum = {
      val start = pos
      if (!eof && s.charAt(pos) == '-') pos += 1
      while (!eof && s.charAt(pos).isDigit) pos += 1
      JNum(s.substring(start, pos).toLong)
    }

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        if (s.charAt(pos) == '\\') {
          s.charAt(pos + 1) match {
            case '"'  => sb.append('"'); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case '/'  => sb.append('/'); pos += 2
            case 'n'  => sb.append('\n'); pos += 2
            case 'r'  => sb.append('\r'); pos += 2
            case 't'  => sb.append('\t'); pos += 2
            case 'u'  => sb.append(Integer.parseInt(s.substring(pos + 2, pos + 6), 16).toChar); pos += 6
            case c    => sb.append(c); pos += 2
          }
        } else { sb.append(s.charAt(pos)); pos += 1 }
      }
      pos += 1
      sb.toString
    }

    private def jarr(): JArr = {
      expect('[')
      skipWs()
      if (s.charAt(pos) == ']') { pos += 1; return JArr(Nil) }
      val items = scala.collection.mutable.ListBuffer.empty[J]
      var more = true
      while (more) {
        items += value()
        skipWs()
        if (s.charAt(pos) == ',') { pos += 1 } else { expect(']'); more = false }
      }
      JArr(items.toSeq)
    }

    private def jobj(): JObj = {
      expect('{')
      skipWs()
      if (s.charAt(pos) == '}') { pos += 1; return JObj(Nil) }
      val fields = scala.collection.mutable.ListBuffer.empty[(String, J)]
      var more = true
      while (more) {
        skipWs()
        val k = string()
        skipWs()
        expect(':')
        fields += (k -> value())
        skipWs()
        if (s.charAt(pos) == ',') { pos += 1 } else { expect('}'); more = false }
      }
      JObj(fields.toSeq)
    }
  }
}
