package graft.codecs

import scala.collection.mutable

import graft.core._

/** XML ↔ JSON tree codec reproducing the reference's conventions
  * (`/root/reference/src/XML.js:47-161`):
  *
  *  - attributes → `"@name"` keys, numeric-sniffed (`XML.js:54`)
  *  - leaf text → the value itself, or `"#"` when attributes exist
  *    (`XML.js:85-92`); numeric-sniffed (quirk Q14)
  *  - repeated same-name children → array (`XML.js:65-70`)
  *  - elements whose tag starts with "_" turn the parent into an array
  *    (`XML.js:75-81`, the `_array` convention)
  *  - json2Xml: `"@"` keys → attributes, `"#"` → text, arrays under a key →
  *    repeated elements (the reference requires a `sameName` marker
  *    (`XML.js:144`) which its own writers always set; we treat every array
  *    as sameName), bare array → `_array` elements (`XML.js:125-129`)
  *
  * Namespace-unaware parsing so tag names keep their prefixes (gx:coord).
  */
object XmlJson {

  /** JS truthiness of a JSON value (objects/arrays truthy even when empty). */
  def jsTruthy(v: JValue): Boolean = v match {
    case JNull    => false
    case JBool(b) => b
    case JNum(d)  => d != 0 && !d.isNaN
    case JStr(s)  => s.nonEmpty
    case _        => true
  }

  /** JS numeric sniff: `!isNaN(parseFloat(v)) && isFinite(v)` (`XML.js:54,86`). */
  def sniff(s: String): JValue = {
    val pf = jsParseFloat(s)
    if (!pf.isNaN && jsIsFinite(s)) JNum(pf) else JStr(s)
  }

  /** JS parseFloat: longest valid decimal prefix after leading whitespace. */
  def jsParseFloat(s0: String): Double = {
    var ws = 0
    while (ws < s0.length && Character.isWhitespace(s0.charAt(ws))) ws += 1
    val s = if (ws == 0) s0 else s0.substring(ws)
    var i = 0
    val n = s.length
    def digits(): Unit = while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    val start = i
    if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val beforeDigits = i
    digits()
    if (i < n && s.charAt(i) == '.') { i += 1; digits() }
    if (i == beforeDigits || (i == beforeDigits + 1 && s.charAt(beforeDigits) == '.')) return Double.NaN
    // exponent
    val expStart = i
    if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      val d0 = i
      digits()
      if (i == d0) i = expStart // invalid exponent: roll back
    }
    try java.lang.Double.parseDouble(s.substring(start, i))
    catch { case _: NumberFormatException => Double.NaN }
  }

  /** JS isFinite(string): Number(string) is finite. Number("") == 0;
    * whitespace-only == 0; "0x.." hex; otherwise strict full-string parse. */
  def jsIsFinite(s0: String): Boolean = jsNumber(s0).exists(d => !d.isNaN && !d.isInfinite)

  /** JS Number(string) semantics (None == NaN). */
  def jsNumber(s0: String): Option[Double] = {
    val s = s0.trim
    if (s.isEmpty) return Some(0.0)
    if (s.startsWith("0x") || s.startsWith("0X")) {
      return try Some(java.lang.Long.parseLong(s.substring(2), 16).toDouble)
      catch { case _: NumberFormatException => None }
    }
    if (s == "Infinity" || s == "+Infinity") return Some(Double.PositiveInfinity)
    if (s == "-Infinity") return Some(Double.NegativeInfinity)
    try Some(java.lang.Double.parseDouble(s)) catch { case _: NumberFormatException => None }
  }

  // ---------- xml -> json ----------

  /** Lightweight XML node (namespace-unaware, tag keeps its prefix).
    * Hand-rolled scanner — ~10× faster than javax DOM on small documents
    * (the hot codec path parses one document per row) and semantically
    * matching the browser DOMParser behaviors the reference relies on
    * (element children only; textContent = concatenated descendant text).
    */
  final class XEl(val tag: String) {
    var attrs: Vector[(String, String)] = Vector.empty
    val children = mutable.ArrayBuffer.empty[AnyRef] // XEl | String (text)
    def textContent: String = {
      // fast path: the overwhelmingly common single-text-child leaf
      if (children.length == 1) children(0) match {
        case t: String => return t
        case _         => ()
      }
      if (children.isEmpty) return ""
      val sb = new StringBuilder
      def go(e: XEl): Unit = e.children.foreach {
        case t: String => sb.append(t)
        case c: XEl    => go(c)
      }
      go(this)
      sb.toString
    }
  }

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i) {
          val ent = s.substring(i + 1, semi)
          val rep: String = ent match {
            case "amp" => "&"; case "lt" => "<"; case "gt" => ">"
            case "quot" => "\""; case "apos" => "'"
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try new String(Character.toChars(Integer.parseInt(e.substring(2), 16)))
              catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try new String(Character.toChars(Integer.parseInt(e.substring(1))))
              catch { case _: Exception => null }
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse into a synthetic root whose single element child is the document
    * element. Throws IllegalArgumentException on grossly malformed input. */
  def parseXmlFast(str: String): XEl = {
    val root = new XEl("#document")
    var i = 0
    val n = str.length
    var stack = List(root)
    @inline def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    while (i < n) {
      if (str.charAt(i) == '<') {
        if (str.startsWith("<?", i)) { val e = str.indexOf("?>", i); i = if (e < 0) n else e + 2 }
        else if (str.startsWith("<!--", i)) { val e = str.indexOf("-->", i); i = if (e < 0) n else e + 3 }
        else if (str.startsWith("<![CDATA[", i)) {
          val e = str.indexOf("]]>", i)
          val end = if (e < 0) n else e
          stack.head.children += str.substring(i + 9, end)
          i = if (e < 0) n else e + 3
        }
        else if (str.startsWith("<!", i)) { val e = str.indexOf('>', i); i = if (e < 0) n else e + 1 }
        else if (str.startsWith("</", i)) {
          val e = str.indexOf('>', i)
          i = if (e < 0) n else e + 1
          if (stack.tail.nonEmpty) stack = stack.tail
        } else {
          var j = i + 1
          while (j < n && !isWs(str.charAt(j)) && str.charAt(j) != '/' && str.charAt(j) != '>') j += 1
          val el = new XEl(str.substring(i + 1, j))
          val attrs = Vector.newBuilder[(String, String)]
          var done = false
          while (!done && j < n) {
            while (j < n && isWs(str.charAt(j))) j += 1
            if (j >= n) done = true
            else if (str.charAt(j) == '>' || (str.charAt(j) == '/' && j + 1 < n && str.charAt(j + 1) == '>')) done = true
            else {
              var k = j
              while (k < n && str.charAt(k) != '=' && !isWs(str.charAt(k)) &&
                str.charAt(k) != '/' && str.charAt(k) != '>') k += 1
              val name = str.substring(j, k)
              while (k < n && isWs(str.charAt(k))) k += 1
              if (k < n && str.charAt(k) == '=') {
                k += 1
                while (k < n && isWs(str.charAt(k))) k += 1
                if (k >= n) { done = true; j = k } // truncated "<a foo=" — EOF
                else {
                  val q = str.charAt(k); k += 1
                  val e = str.indexOf(q, k)
                  val end = if (e < 0) n else e
                  attrs += (name -> decodeEntities(str.substring(k, end)))
                  j = end + 1
                }
              } else {
                attrs += (name -> "")
                j = k
              }
            }
          }
          el.attrs = attrs.result()
          stack.head.children += el
          if (j < n && str.charAt(j) == '/') i = j + 2
          else { i = j + 1; stack = el :: stack }
        }
      } else {
        val e = str.indexOf('<', i)
        val end = if (e < 0) n else e
        if (end > i) stack.head.children += decodeEntities(str.substring(i, end))
        i = end
      }
    }
    root
  }

  /** Streaming builder frame for one open element — the fused parser
    * converts each element to its JValue the moment its closing tag is seen,
    * so no intermediate XEl tree is ever built (the tree build was ~40% of
    * the KML hot path). Semantics identical to the old two-pass
    * parseXmlFast + elementToJson (pinned by the byte-parity suite). */
  private final class Frame(val tag: String) {
    var fields: mutable.ArrayBuffer[(String, JValue)] = null
    var hasKids = false
    var arrayMode: mutable.ArrayBuffer[JValue] = null
    var sameName: mutable.ArrayBuffer[String] = null
    // leaf text: single-chunk fast path, StringBuilder only when fragmented
    private var singleText: String = null
    private var textBuf: java.lang.StringBuilder = null

    def addText(s: String): Unit =
      if (textBuf != null) { textBuf.append(s); () }
      else if (singleText == null) singleText = s
      else {
        textBuf = new java.lang.StringBuilder(singleText.length + s.length + 16)
        textBuf.append(singleText).append(s)
        singleText = null
      }
    private def textContent: String =
      if (textBuf != null) textBuf.toString else if (singleText != null) singleText else ""

    def addAttr(name: String, value: String): Unit = {
      if (fields == null) fields = new mutable.ArrayBuffer[(String, JValue)](4)
      fields += (("@" + name) -> sniff(value))
    }

    /** The same-name merge of `XML.js:65-81` — see the truthiness note:
      * a falsy existing value (empty element → "", or a sniffed 0) is
      * silently OVERWRITTEN instead of promoted to an array (fuzz-parity
      * pinned: <Placemark/> before a real Placemark drops the empty one). */
    def addChild(childTag: String, value: JValue): Unit = {
      hasKids = true
      if (!childTag.startsWith("_")) {
        if (fields == null) fields = new mutable.ArrayBuffer[(String, JValue)](4)
        val idx = fields.indexWhere(_._1 == childTag)
        if (idx >= 0 && jsTruthy(fields(idx)._2)) {
          val promoted = sameName != null && sameName.contains(childTag)
          val arr = fields(idx)._2 match {
            case JArr(items) if promoted => JArr(items :+ value)
            case other                   => JArr.of(other, value)
          }
          if (!promoted) {
            if (sameName == null) sameName = new mutable.ArrayBuffer[String](2)
            sameName += childTag
          }
          fields(idx) = (childTag, arr)
        } else if (idx >= 0) {
          fields(idx) = (childTag, value)
        } else {
          fields += (childTag -> value)
        }
      } else {
        // "_"-prefixed child: parent becomes an array (`XML.js:75-81`)
        if (arrayMode == null) arrayMode = new mutable.ArrayBuffer[JValue](4)
        arrayMode += value
      }
    }

    def finish(): JValue =
      if (arrayMode != null) JArr(arrayMode.toVector)
      else if (hasKids) JObj(if (fields == null) Vector.empty else fields.toVector)
      else {
        val value = sniff(textContent)
        if (fields != null && fields.nonEmpty) { fields += ("#" -> value); JObj(fields.toVector) }
        else value
      }
  }

  /** Whole document → `{rootTag: ...}`, like xml2Json on the DOM Document.
    * Single fused pass: scanner + JValue construction, no XEl tree. */
  def xml2Json(str: String): JValue = {
    var rootTag: String = null
    var rootValue: JValue = null
    var stack: List[Frame] = new Frame("#document") :: Nil
    @inline def pop(): Unit = stack match {
      case top :: (rest @ parent :: _) =>
        val v = top.finish()
        if (rest.tail.isEmpty) { // closing a top-level element
          if (rootTag == null) { rootTag = top.tag; rootValue = v }
        } else parent.addChild(top.tag, v)
        stack = rest
      case _ => ()
    }
    var i = 0
    val n = str.length
    @inline def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    while (i < n) {
      if (str.charAt(i) == '<') {
        if (str.startsWith("<?", i)) { val e = str.indexOf("?>", i); i = if (e < 0) n else e + 2 }
        else if (str.startsWith("<!--", i)) { val e = str.indexOf("-->", i); i = if (e < 0) n else e + 3 }
        else if (str.startsWith("<![CDATA[", i)) {
          val e = str.indexOf("]]>", i)
          val end = if (e < 0) n else e
          stack.head.addText(str.substring(i + 9, end))
          i = if (e < 0) n else e + 3
        }
        else if (str.startsWith("<!", i)) { val e = str.indexOf('>', i); i = if (e < 0) n else e + 1 }
        else if (str.startsWith("</", i)) {
          val e = str.indexOf('>', i)
          i = if (e < 0) n else e + 1
          if (stack.tail.nonEmpty) pop()
        } else {
          var j = i + 1
          while (j < n && !isWs(str.charAt(j)) && str.charAt(j) != '/' && str.charAt(j) != '>') j += 1
          val el = new Frame(str.substring(i + 1, j))
          var done = false
          while (!done && j < n) {
            while (j < n && isWs(str.charAt(j))) j += 1
            if (j >= n) done = true
            else if (str.charAt(j) == '>' || (str.charAt(j) == '/' && j + 1 < n && str.charAt(j + 1) == '>')) done = true
            else {
              var k = j
              while (k < n && str.charAt(k) != '=' && !isWs(str.charAt(k)) &&
                str.charAt(k) != '/' && str.charAt(k) != '>') k += 1
              val name = str.substring(j, k)
              while (k < n && isWs(str.charAt(k))) k += 1
              if (k < n && str.charAt(k) == '=') {
                k += 1
                while (k < n && isWs(str.charAt(k))) k += 1
                if (k >= n) { done = true; j = k } // truncated "<a foo=" — EOF
                else {
                  val q = str.charAt(k); k += 1
                  val e = str.indexOf(q, k)
                  val end = if (e < 0) n else e
                  el.addAttr(name, decodeEntities(str.substring(k, end)))
                  j = end + 1
                }
              } else if (name.isEmpty) {
                j = k + 1 // stray '/' (not "/>") or similar: MUST advance
              } else {
                el.addAttr(name, "")
                j = k
              }
            }
          }
          stack = el :: stack
          if (j < n && str.charAt(j) == '/') { i = j + 2; pop() } // self-closing
          else i = j + 1
        }
      } else {
        val e = str.indexOf('<', i)
        val end = if (e < 0) n else e
        if (end > i) stack.head.addText(decodeEntities(str.substring(i, end)))
        i = end
      }
    }
    // unwind unclosed elements (malformed input: same tree the two-pass
    // builder produced, since structure was fixed at open time there)
    while (stack.tail.nonEmpty) pop()
    if (rootTag == null) throw new IllegalArgumentException("xml: no document element")
    JObj.of(rootTag -> rootValue)
  }

  // ---------- json -> xml ----------

  /** Serialize like `json2Xml(..., toString=true)`: XML declaration with
    * single quotes + XMLSerializer-compatible output (`XML.js:114-116`). */
  def json2XmlString(json: JValue, rootName: String): String = {
    val sb = new StringBuilder
    sb.append("<?xml version='1.0' encoding='UTF-8'?>")
    writeElement(sb, if (rootName.trim.nonEmpty) rootName else "root", json)
    sb.toString
  }

  /** Text rendering of a scalar (JS String(value) semantics). */
  def scalarText(v: JValue): String = v match {
    case JStr(s)  => s
    case JNum(d)  => Json.num(d)
    case JBool(b) => b.toString
    case JNull    => "null" // JS String(null); reference never emits this
    case other    => other.render
  }

  private def escText(s: String, sb: StringBuilder): Unit =
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c   => sb.append(c)
    }

  private def escAttr(s: String, sb: StringBuilder): Unit =
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '"' => sb.append("&quot;")
      case c   => sb.append(c)
    }

  def writeElement(sb: StringBuilder, name: String, json: JValue): Unit = json match {
    case JArr(items) =>
      // bare array: wrap children as `_array` elements (`XML.js:125-129`)
      sb.append('<').append(name)
      if (items.isEmpty) { sb.append("/>"); return }
      sb.append('>')
      items.foreach(writeElement(sb, "_array", _))
      sb.append("</").append(name).append('>')
    case JObj(fields) =>
      val attrs = fields.filter(_._1.startsWith("@"))
      val text = fields.collectFirst { case ("#", v) => v }
      val children = fields.filterNot { case (k, _) => k.startsWith("@") || k == "#" }
      sb.append('<').append(name)
      attrs.foreach { case (k, v) =>
        sb.append(' ').append(k.substring(1)).append("=\"")
        escAttr(scalarText(v), sb)
        sb.append('"')
      }
      if (text.isEmpty && children.isEmpty) { sb.append("/>"); return }
      sb.append('>')
      text.foreach(t => escText(scalarText(t), sb))
      children.foreach {
        case (k, arr: JArr) =>
          // keyed array → repeated elements (reference `sameName` path,
          // `XML.js:144-148` — its writers always mark arrays sameName)
          arr.items.foreach(writeElement(sb, k, _))
        case (k, o: JObj) => writeElement(sb, k, o)
        case (k, scalar) =>
          sb.append('<').append(k)
          val t = scalarText(scalar)
          if (t.isEmpty) sb.append("/>")
          else { sb.append('>'); escText(t, sb); sb.append("</").append(k).append('>') }
      }
      sb.append("</").append(name).append('>')
    case scalar =>
      sb.append('<').append(name)
      val t = scalarText(scalar)
      if (t.isEmpty) sb.append("/>")
      else { sb.append('>'); escText(t, sb); sb.append("</").append(name).append('>') }
  }

  /** Value for an "undefined" in the reference (JS textContent = undefined →
    * the string "undefined"; used by quirk Q3). */
  val UndefinedText: JValue = JStr("undefined")
}
