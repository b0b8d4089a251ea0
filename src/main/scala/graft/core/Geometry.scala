package graft.core

/** 2-D geometry model. The reference is strictly 2-D — every parse path
  * drops Z/M (`/root/reference/src/ShapeFile.js:235,249-250`,
  * `KML.js:278,291`, `WKT.js:57-60`) — so the engine model is (x=lon, y=lat)
  * doubles only.
  */
final case class Pt(x: Double, y: Double)

sealed trait Geom {
  /** GeoJSON `type` string. */
  def kind: String = this match {
    case _: GPoint           => "Point"
    case _: GMultiPoint      => "MultiPoint"
    case _: GLineString      => "LineString"
    case _: GMultiLineString => "MultiLineString"
    case _: GPolygon         => "Polygon"
    case _: GMultiPolygon    => "MultiPolygon"
    case _: GCollection      => "GeometryCollection"
  }

  /** WKB geometry type code (OGC, 1..7). */
  def wkbType: Int = this match {
    case _: GPoint           => 1
    case _: GLineString      => 2
    case _: GPolygon         => 3
    case _: GMultiPoint      => 4
    case _: GMultiLineString => 5
    case _: GMultiPolygon    => 6
    case _: GCollection      => 7
  }

  def foreachPt(f: Pt => Unit): Unit = this match {
    case GPoint(p)            => f(p)
    case GMultiPoint(ps)      => ps.foreach(f)
    case GLineString(ps)      => ps.foreach(f)
    case GMultiLineString(ls) => ls.foreach(_.foreach(f))
    case GPolygon(rs)         => rs.foreach(_.foreach(f))
    case GMultiPolygon(pp)    => pp.foreach(_.foreach(_.foreach(f)))
    case GCollection(gs)      => gs.foreach(_.foreachPt(f))
  }

  def mapPt(f: Pt => Pt): Geom = this match {
    case GPoint(p)            => GPoint(f(p))
    case GMultiPoint(ps)      => GMultiPoint(ps.map(f))
    case GLineString(ps)      => GLineString(ps.map(f))
    case GMultiLineString(ls) => GMultiLineString(ls.map(_.map(f)))
    case GPolygon(rs)         => GPolygon(rs.map(_.map(f)))
    case GMultiPolygon(pp)    => GMultiPolygon(pp.map(_.map(_.map(f))))
    case GCollection(gs)      => GCollection(gs.map(_.mapPt(f)))
  }

  /** (minX, minY, maxX, maxY); NaNs if empty. */
  def bbox: (Double, Double, Double, Double) = {
    var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
    var any = false
    foreachPt { p =>
      any = true
      if (p.x < minX) minX = p.x
      if (p.y < minY) minY = p.y
      if (p.x > maxX) maxX = p.x
      if (p.y > maxY) maxY = p.y
    }
    if (any) (minX, minY, maxX, maxY)
    else (Double.NaN, Double.NaN, Double.NaN, Double.NaN)
  }

  def numPoints: Int = { var n = 0; foreachPt(_ => n += 1); n }
}

final case class GPoint(p: Pt) extends Geom
final case class GMultiPoint(pts: Vector[Pt]) extends Geom
final case class GLineString(pts: Vector[Pt]) extends Geom
final case class GMultiLineString(lines: Vector[Vector[Pt]]) extends Geom
/** rings(0) = outer shell; rings(1..) = holes. */
final case class GPolygon(rings: Vector[Vector[Pt]]) extends Geom
final case class GMultiPolygon(polys: Vector[Vector[Vector[Pt]]]) extends Geom
final case class GCollection(geoms: Vector[Geom]) extends Geom

object GPoint { def apply(x: Double, y: Double): GPoint = GPoint(Pt(x, y)) }

object Geom {
  /** Deepest nesting the WKB and WKT decoders accept: a geometry is depth
    * 1, and each geometry around it (a collection; in WKB also a multi
    * geometry around its members) adds 1. Deeper input throws
    * IllegalArgumentException, as JSON beyond `Json.MaxDepth` does, so a
    * decoder gives a value or null instead of overflowing the stack. */
  val MaxDepth = 1000

  private[core] def checkDepth(depth: Int): Unit =
    if (depth > MaxDepth)
      throw new IllegalArgumentException(s"geometry nested deeper than $MaxDepth")
}

/** GeoJSON Feature row, matching the reference's canonical document model
  * (`/root/reference/src/GeoConvert.js:3-9`): open `properties` map, an
  * optional `style` map populated only by the KML/DXF paths, optional bbox.
  */
final case class Feature(
    geometry: Option[Geom],
    properties: Vector[(String, JValue)] = Vector.empty,
    style: Vector[(String, JValue)] = Vector.empty,
    bbox: Option[(Double, Double, Double, Double)] = None)

final case class FeatureCollection(
    features: Vector[Feature],
    bbox: Option[(Double, Double, Double, Double)] = None)
