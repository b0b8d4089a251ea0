package graft.core

/** Minimal JSON AST + parser + printer (no external deps — "from scratch").
  *
  * Used by the GeoJSON codec layer. Number printing uses the JS-compatible
  * shortest form: integral doubles print without a trailing ".0"
  * (JSON.stringify semantics — the reference emits GeoJSON via
  * JSON.stringify, /root/reference/src/WKT.js:8, KML.js:26).
  */
sealed trait JValue {
  def render: String = Json.render(this)
}
case object JNull extends JValue
final case class JBool(v: Boolean) extends JValue
final case class JNum(v: Double) extends JValue
final case class JStr(v: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue {
  def apply(i: Int): JValue = items(i)
}
final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
  lazy val toMap: Map[String, JValue] = fields.toMap
  def get(k: String): Option[JValue] = fields.collectFirst { case (`k`, v) => v }
  def apply(k: String): JValue = get(k).getOrElse(JNull)
}

object JObj { def of(fs: (String, JValue)*): JObj = JObj(fs.toVector) }
object JArr { def of(vs: JValue*): JArr = JArr(vs.toVector) }

object Json {

  /** JS `Number.prototype.toString` / JSON.stringify compatible double
    * rendering for the common cases: integral values in i64 range print as
    * integers; otherwise java.lang.Double.toString shortest-ish repr.
    */
  def num(d: Double): String = {
    if (d.isNaN || d.isInfinite) "null"
    else if (d == Math.rint(d) && Math.abs(d) < 9.007199254740992e15) {
      // integral and exactly representable: print without decimal point
      d.toLong.toString
    } else {
      val s = java.lang.Double.toString(d)
      // JS prints 1.0E-7 as 1e-7; normalize exponent form minimally
      if (s.contains('E')) s.replace("E", "e") else s
    }
  }

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }

  /** Prints `v`. Throws IllegalArgumentException when `v` nests containers
    * deeper than [[MaxDepth]] (the [[deeperThan]] predicate), so everything
    * this prints parses again and recursion stays within the stack. */
  def render(v: JValue): String = {
    // hot path (every codec expression renders once per row): single
    // java StringBuilder, strings escaped in place (no per-string builder),
    // integral doubles appended as longs (no intermediate String)
    val sb = new java.lang.StringBuilder(128)
    def esc(s: String): Unit = {
      sb.append('"')
      var i = 0
      val n = s.length
      var flushed = 0
      while (i < n) {
        val c = s.charAt(i)
        val rep: String =
          if (c == '"') "\\\""
          else if (c == '\\') "\\\\"
          else if (c == '\n') "\\n"
          else if (c == '\r') "\\r"
          else if (c == '\t') "\\t"
          else if (c == '\b') "\\b"
          else if (c == '\f') "\\f"
          else if (c < ' ') f"\\u${c.toInt}%04x"
          else null
        if (rep != null) {
          sb.append(s, flushed, i).append(rep)
          flushed = i + 1
        }
        i += 1
      }
      sb.append(s, flushed, n).append('"')
    }
    // `depth`: containers enclosing `v`
    def go(v: JValue, depth: Int): Unit = v match {
      case JNull    => sb.append("null")
      case JBool(b) => sb.append(if (b) "true" else "false")
      case JNum(d) =>
        if (d.isNaN || d.isInfinite) sb.append("null")
        else if (d == Math.rint(d) && Math.abs(d) < 9.007199254740992e15) sb.append(d.toLong)
        else {
          val s = java.lang.Double.toString(d)
          if (s.indexOf('E') >= 0) sb.append(s.replace("E", "e")) else sb.append(s)
        }
      case JStr(s) => esc(s)
      case JArr(items) =>
        if (depth == MaxDepth) fail(s"nesting deeper than $MaxDepth")
        sb.append('[')
        var first = true
        items.foreach { it => if (!first) sb.append(','); first = false; go(it, depth + 1) }
        sb.append(']')
      case JObj(fields) =>
        if (depth == MaxDepth) fail(s"nesting deeper than $MaxDepth")
        sb.append('{')
        var first = true
        fields.foreach { case (k, it) =>
          if (!first) sb.append(','); first = false
          esc(k); sb.append(':'); go(it, depth + 1)
        }
        sb.append('}')
    }
    go(v, 0)
    sb.toString
  }

  /** Deepest container nesting the parser accepts and the printer prints;
    * the root container is at depth 1. Deeper input is malformed
    * (IllegalArgumentException) instead of a StackOverflowError. Jackson's
    * default read limit is the same. */
  val MaxDepth = 1000

  /** Recursive-descent parser. Throws IllegalArgumentException on bad input. */
  def parse(s: String): JValue = parseWith(new Parser(s, strict = false))

  /** [[parse]] restricted to input that Jackson, as Spark's JSON functions
    * configure it, reads too: RFC 8259 number lexemes (no `01`, `1.`, `-.5`)
    * of at most 1000 characters, `\u` escapes of exactly four hex digits,
    * and string lexemes of at most 50,000 characters (Jackson's default
    * number and name length limits). Rejects a subset of what [[parse]]
    * accepts and returns the same tree for the rest. */
  def parseStrict(s: String): JValue = parseWith(new Parser(s, strict = true))

  private def parseWith(p: Parser): JValue = {
    val v = p.parseValue()
    p.skipWs()
    if (!p.eof) fail(s"trailing content at ${p.pos}")
    v
  }

  /** Whether `v` nests containers deeper than `limit` (at `MaxDepth`:
    * whether `render(v)` throws); looks no deeper than `limit + 1` levels. */
  def deeperThan(v: JValue, limit: Int): Boolean = v match {
    case JArr(items)  => limit == 0 || items.exists(deeperThan(_, limit - 1))
    case JObj(fields) => limit == 0 || fields.exists(f => deeperThan(f._2, limit - 1))
    case _            => false
  }

  def parseOpt(s: String): Option[JValue] =
    try Some(parse(s)) catch { case _: IllegalArgumentException => None }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException("json: " + msg)

  private final class Parser(s: String, strict: Boolean) {
    var pos = 0
    private var depth = 0
    def eof: Boolean = pos >= s.length
    def cur: Char = s.charAt(pos)
    def skipWs(): Unit =
      while (!eof && (cur == ' ' || cur == '\t' || cur == '\n' || cur == '\r')) pos += 1

    def expect(c: Char): Unit = {
      if (eof || cur != c) fail(s"expected '$c' at $pos")
      pos += 1
    }

    def parseValue(): JValue = {
      skipWs()
      if (eof) fail("unexpected end")
      cur match {
        case c @ ('{' | '[') =>
          depth += 1
          if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth at $pos")
          val v = if (c == '{') parseObj() else parseArr()
          depth -= 1
          v
        case '"' => JStr(parseString())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => parseNum()
        case c => fail(s"unexpected '$c' at $pos")
      }
    }

    def lit(w: String): Unit = {
      if (pos + w.length > s.length || s.substring(pos, pos + w.length) != w)
        fail(s"bad literal at $pos")
      pos += w.length
    }

    def parseObj(): JObj = {
      expect('{'); skipWs()
      val b = Vector.newBuilder[(String, JValue)]
      if (!eof && cur == '}') { pos += 1; return JObj(b.result()) }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        val v = parseValue()
        b += (k -> v)
        skipWs()
        if (eof) fail("unterminated object")
        else if (cur == ',') pos += 1
        else if (cur == '}') { pos += 1; done = true }
        else fail(s"expected ',' or '}' at $pos")
      }
      JObj(b.result())
    }

    def parseArr(): JArr = {
      expect('['); skipWs()
      val b = Vector.newBuilder[JValue]
      if (!eof && cur == ']') { pos += 1; return JArr(b.result()) }
      var done = false
      while (!done) {
        b += parseValue()
        skipWs()
        if (eof) fail("unterminated array")
        else if (cur == ',') pos += 1
        else if (cur == ']') { pos += 1; done = true }
        else fail(s"expected ',' or ']' at $pos")
      }
      JArr(b.result())
    }

    def parseString(): String = {
      expect('"')
      val start = pos
      val sb = new StringBuilder
      while (!eof && cur != '"') {
        val c = cur
        if (c == '\\') {
          pos += 1
          if (eof) fail("bad escape")
          cur match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'u'  =>
              if (pos + 4 >= s.length) fail("bad \\u escape")
              val hex = s.substring(pos + 1, pos + 5)
              if (strict && !hex.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
                fail(s"bad \\u escape at $pos")
              sb.append(Integer.parseInt(hex, 16).toChar)
              pos += 4
            case c => fail(s"bad escape '\\$c'")
          }
          pos += 1
        } else { sb.append(c); pos += 1 }
      }
      if (strict && pos - start > 50000) fail(s"string longer than 50000 at $start")
      expect('"')
      sb.toString
    }

    /** Consumes a run of digits; returns how many. */
    private def digits(): Int = {
      val from = pos
      while (!eof && cur >= '0' && cur <= '9') pos += 1
      pos - from
    }

    def parseNum(): JNum = {
      val start = pos
      if (!eof && cur == '-') pos += 1
      val intStart = pos
      val intDigits = digits()
      var ok = intDigits > 0 && (intDigits == 1 || s.charAt(intStart) != '0')
      if (!eof && cur == '.') { pos += 1; ok &&= digits() > 0 }
      if (!eof && (cur == 'e' || cur == 'E')) {
        pos += 1
        if (!eof && (cur == '+' || cur == '-')) pos += 1
        ok &&= digits() > 0
      }
      if (pos == start) fail(s"bad number at $start")
      if (strict && (!ok || pos - start > 1000)) fail(s"non-standard number at $start")
      JNum(java.lang.Double.parseDouble(s.substring(start, pos)))
    }
  }
}
