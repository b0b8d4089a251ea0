package graft.core

/** WKT reader/writer.
  *
  * `parse` is a full-featured OGC WKT parser (all 7 geometry kinds, EMPTY,
  * nested collections). `parseGeoConvert` mirrors the reference's restricted
  * dialect (`/root/reference/src/WKT.js:23-38`): only POINT / LINESTRING /
  * POLYGON, any other tag yields None (the reference returns an empty
  * FeatureCollection — quirk Q11 in SURVEY.md §5.3).
  */
object Wkt {

  // ---------- writer ----------

  private def fmt(d: Double): String = Json.num(d)
  private def pt(p: Pt): String = fmt(p.x) + " " + fmt(p.y)
  private def seq(ps: Vector[Pt]): String = ps.map(pt).mkString("(", ", ", ")")
  private def ringSeq(rs: Vector[Vector[Pt]]): String = rs.map(seq).mkString("(", ", ", ")")

  def write(g: Geom): String = g match {
    case GPoint(p)       => s"POINT (${pt(p)})"
    case GMultiPoint(ps) if ps.isEmpty => "MULTIPOINT EMPTY"
    case GMultiPoint(ps) => "MULTIPOINT " + ps.map(p => s"(${pt(p)})").mkString("(", ", ", ")")
    case GLineString(ps) if ps.isEmpty => "LINESTRING EMPTY"
    case GLineString(ps) => "LINESTRING " + seq(ps)
    case GMultiLineString(ls) if ls.isEmpty => "MULTILINESTRING EMPTY"
    case GMultiLineString(ls) => "MULTILINESTRING " + ls.map(seq).mkString("(", ", ", ")")
    case GPolygon(rs) if rs.isEmpty => "POLYGON EMPTY"
    case GPolygon(rs)    => "POLYGON " + ringSeq(rs)
    case GMultiPolygon(pp) if pp.isEmpty => "MULTIPOLYGON EMPTY"
    case GMultiPolygon(pp) => "MULTIPOLYGON " + pp.map(ringSeq).mkString("(", ", ", ")")
    case GCollection(gs) if gs.isEmpty => "GEOMETRYCOLLECTION EMPTY"
    case GCollection(gs) => "GEOMETRYCOLLECTION (" + gs.map(write).mkString(", ") + ")"
  }

  // ---------- full parser ----------

  def parse(s: String): Geom = {
    val p = new P(s)
    val g = p.geometry(1)
    p.skipWs()
    if (!p.eof) throw new IllegalArgumentException(s"wkt: trailing content at ${p.pos}")
    g
  }

  def parseOpt(s: String): Option[Geom] =
    try Some(parse(s)) catch { case _: IllegalArgumentException => None }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def cur: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && cur.isWhitespace) pos += 1

    def word(): String = {
      skipWs()
      val start = pos
      while (!eof && (cur.isLetter || cur.isDigit)) pos += 1
      if (pos == start) throw new IllegalArgumentException(s"wkt: expected word at $pos")
      s.substring(start, pos).toUpperCase
    }

    def tryConsume(c: Char): Boolean = {
      skipWs()
      if (!eof && cur == c) { pos += 1; true } else false
    }

    def expect(c: Char): Unit =
      if (!tryConsume(c)) throw new IllegalArgumentException(s"wkt: expected '$c' at $pos")

    def number(): Double = {
      skipWs()
      val start = pos
      if (!eof && (cur == '-' || cur == '+')) pos += 1
      while (!eof && (cur.isDigit || cur == '.' || cur == 'e' || cur == 'E' ||
        ((cur == '-' || cur == '+') && (s.charAt(pos - 1) == 'e' || s.charAt(pos - 1) == 'E')))) pos += 1
      if (pos == start) throw new IllegalArgumentException(s"wkt: expected number at $pos")
      java.lang.Double.parseDouble(s.substring(start, pos))
    }

    /** One coordinate; extra ordinates (Z/M) parsed and dropped — matching the
      * reference's 2-D-only model. */
    def coord(): Pt = {
      val x = number(); val y = number()
      skipWs()
      while (!eof && (cur.isDigit || cur == '-' || cur == '+' || cur == '.')) { number(); skipWs() }
      Pt(x, y)
    }

    def maybeEmpty(): Boolean = {
      skipWs()
      if (!eof && (cur == 'E' || cur == 'e')) { val w = word(); if (w != "EMPTY") throw new IllegalArgumentException("wkt: expected EMPTY"); true }
      else false
    }

    /** Skip an optional Z / M / ZM dimension tag after the geometry tag. */
    def maybeDimTag(): Unit = {
      skipWs()
      if (!eof && (cur == 'Z' || cur == 'M' || cur == 'z' || cur == 'm')) {
        val save = pos
        val w = word()
        if (w != "Z" && w != "M" && w != "ZM") pos = save
      }
    }

    def coordSeq(): Vector[Pt] = {
      expect('(')
      val b = Vector.newBuilder[Pt]
      b += coord()
      while (tryConsume(',')) b += coord()
      expect(')')
      b.result()
    }

    def ringSeq(): Vector[Vector[Pt]] = {
      expect('(')
      val b = Vector.newBuilder[Vector[Pt]]
      b += coordSeq()
      while (tryConsume(',')) b += coordSeq()
      expect(')')
      b.result()
    }

    /** MULTIPOINT accepts both `((1 2), (3 4))` and legacy `(1 2, 3 4)`. */
    def multiPointSeq(): Vector[Pt] = {
      expect('(')
      val b = Vector.newBuilder[Pt]
      def one(): Unit =
        if (tryConsume('(')) { b += coord(); expect(')') } else b += coord()
      one()
      while (tryConsume(',')) one()
      expect(')')
      b.result()
    }

    /** One geometry at `depth` ([[Geom.MaxDepth]] bounds it). */
    def geometry(depth: Int): Geom = {
      Geom.checkDepth(depth)
      val tag = word()
      maybeDimTag()
      tag match {
        case "POINT" =>
          if (maybeEmpty()) GMultiPoint(Vector.empty)
          else { expect('('); val p = coord(); expect(')'); GPoint(p) }
        case "LINESTRING" =>
          if (maybeEmpty()) GLineString(Vector.empty) else GLineString(coordSeq())
        case "POLYGON" =>
          if (maybeEmpty()) GPolygon(Vector.empty) else GPolygon(ringSeq())
        case "MULTIPOINT" =>
          if (maybeEmpty()) GMultiPoint(Vector.empty) else GMultiPoint(multiPointSeq())
        case "MULTILINESTRING" =>
          if (maybeEmpty()) GMultiLineString(Vector.empty) else GMultiLineString(ringSeq())
        case "MULTIPOLYGON" =>
          if (maybeEmpty()) GMultiPolygon(Vector.empty)
          else {
            expect('(')
            val b = Vector.newBuilder[Vector[Vector[Pt]]]
            b += ringSeq()
            while (tryConsume(',')) b += ringSeq()
            expect(')')
            GMultiPolygon(b.result())
          }
        case "GEOMETRYCOLLECTION" =>
          if (maybeEmpty()) GCollection(Vector.empty)
          else {
            expect('(')
            val b = Vector.newBuilder[Geom]
            b += geometry(depth + 1)
            while (tryConsume(',')) b += geometry(depth + 1)
            expect(')')
            GCollection(b.result())
          }
        case t => throw new IllegalArgumentException(s"wkt: unknown geometry type $t")
      }
    }
  }

  // ---------- GeoConvert-parity subset ----------

  /** Mirrors `wkt2Geojson` (`/root/reference/src/WKT.js:4-55`): dispatch on
    * the leading tag; POINT/LINESTRING/POLYGON supported, anything else →
    * None (reference leaves the FeatureCollection empty, `WKT.js:40-49`).
    * The reference's readers slice between the first '(' and last ')'
    * (`WKT.js:63-105`) and split on "," / "),"; for well-formed 2-D WKT this
    * agrees with the strict parser, which we reuse.
    */
  def parseGeoConvert(wkt: String): Option[Geom] = {
    val t = wkt.trim
    val tag = t.takeWhile(c => c.isLetter).toUpperCase
    tag match {
      case "POINT" | "LINESTRING" | "POLYGON" => parseOpt(t)
      case _                                  => None
    }
  }

  /** Full reference entry point: WKT string → FeatureCollection with one
    * feature, or empty on unsupported tag (`WKT.js:40-49`). */
  def wktToFeatureCollection(wkt: String): FeatureCollection =
    FeatureCollection(parseGeoConvert(wkt).map(g => Feature(Some(g))).toVector)
}
