package graft.core

/** GeoJSON ↔ Geom codec, reproducing the reference's canonical form
  * (`/root/reference/src/GeoConvert.js:3-9`): FeatureCollection of Features
  * with nested coordinate arrays; `style` emitted only when non-empty
  * (KML/DXF paths, `KML.js:133`, `DXF.js:669`); bbox emitted only when
  * present (shapefile path, `ShapeFile.js:90`).
  */
object GeoJson {

  // ---- Geom -> JSON ----

  private def pt(p: Pt): JArr = JArr.of(JNum(p.x), JNum(p.y))
  private def line(ps: Vector[Pt]): JArr = JArr(ps.map(pt))
  private def rings(rs: Vector[Vector[Pt]]): JArr = JArr(rs.map(line))

  def geomToJson(g: Geom): JObj = g match {
    case GPoint(p) => JObj.of("type" -> JStr("Point"), "coordinates" -> pt(p))
    case GMultiPoint(ps) =>
      JObj.of("type" -> JStr("MultiPoint"), "coordinates" -> line(ps))
    case GLineString(ps) =>
      JObj.of("type" -> JStr("LineString"), "coordinates" -> line(ps))
    case GMultiLineString(ls) =>
      JObj.of("type" -> JStr("MultiLineString"), "coordinates" -> rings(ls))
    case GPolygon(rs) =>
      JObj.of("type" -> JStr("Polygon"), "coordinates" -> rings(rs))
    case GMultiPolygon(pp) =>
      JObj.of("type" -> JStr("MultiPolygon"), "coordinates" -> JArr(pp.map(rings)))
    case GCollection(gs) =>
      JObj.of("type" -> JStr("GeometryCollection"),
        "geometries" -> JArr(gs.map(geomToJson)))
  }

  def featureToJson(f: Feature): JObj = {
    // key order matches the reference's WKT path: type, properties, geometry
    // (`/root/reference/src/WKT.js:44-48`)
    var fields = Vector[(String, JValue)](
      "type" -> JStr("Feature"),
      "properties" -> JObj(f.properties))
    if (f.style.nonEmpty) fields :+= ("style" -> JObj(f.style))
    fields :+= ("geometry" -> f.geometry.map(geomToJson).getOrElse(JNull))
    f.bbox.foreach { case (a, b, c, d) =>
      fields :+= ("bbox" -> JArr.of(JNum(a), JNum(b), JNum(c), JNum(d)))
    }
    JObj(fields)
  }

  def collectionToJson(fc: FeatureCollection): JObj = {
    var fields = Vector[(String, JValue)](
      "type" -> JStr("FeatureCollection"),
      "features" -> JArr(fc.features.map(featureToJson)))
    fc.bbox.foreach { case (a, b, c, d) =>
      fields :+= ("bbox" -> JArr.of(JNum(a), JNum(b), JNum(c), JNum(d)))
    }
    JObj(fields)
  }

  def write(g: Geom): String = geomToJson(g).render
  def write(fc: FeatureCollection): String = collectionToJson(fc).render

  // ---- JSON -> Geom ----

  /** A value as an error message names it: containers by kind only, since
    * printing a deeply nested one would overflow the stack. */
  private def kind(v: JValue): String = v match {
    case _: JArr => "an array"
    case _: JObj => "an object"
    case other   => other.toString.take(64)
  }

  private def asNum(v: JValue): Double = v match {
    case JNum(d) => d
    case other   => throw new IllegalArgumentException(s"geojson: expected number, got ${kind(other)}")
  }

  private def parsePt(v: JValue): Pt = v match {
    case JArr(items) if items.length >= 2 => Pt(asNum(items(0)), asNum(items(1)))
    case other => throw new IllegalArgumentException(s"geojson: bad position ${kind(other)}")
  }

  private def parseLine(v: JValue): Vector[Pt] = v match {
    case JArr(items) => items.map(parsePt)
    case other => throw new IllegalArgumentException(s"geojson: bad line ${kind(other)}")
  }

  private def parseRings(v: JValue): Vector[Vector[Pt]] = v match {
    case JArr(items) => items.map(parseLine)
    case other => throw new IllegalArgumentException(s"geojson: bad rings ${kind(other)}")
  }

  def geomFromJson(v: JValue): Geom = v match {
    case o: JObj =>
      val coords = o("coordinates")
      o("type") match {
        case JStr("Point")           => GPoint(parsePt(coords))
        case JStr("MultiPoint")      => GMultiPoint(parseLine(coords))
        case JStr("LineString")      => GLineString(parseLine(coords))
        case JStr("MultiLineString") => GMultiLineString(parseRings(coords))
        case JStr("Polygon")         => GPolygon(parseRings(coords))
        case JStr("MultiPolygon") => GMultiPolygon(coords match {
          case JArr(items) => items.map(parseRings)
          case other => throw new IllegalArgumentException(s"geojson: bad multipolygon ${kind(other)}")
        })
        case JStr("GeometryCollection") => GCollection(o("geometries") match {
          case JArr(items) => items.map(geomFromJson)
          case other => throw new IllegalArgumentException(s"geojson: bad collection ${kind(other)}")
        })
        case t => throw new IllegalArgumentException(s"geojson: unknown type ${kind(t)}")
      }
    case other => throw new IllegalArgumentException(s"geojson: expected object, got ${kind(other)}")
  }

  def featureFromJson(v: JValue): Feature = v match {
    case o: JObj =>
      val geom = o("geometry") match {
        case JNull => None
        case g     => Some(geomFromJson(g))
      }
      val props = o("properties") match {
        case JObj(fs) => fs
        case _        => Vector.empty[(String, JValue)]
      }
      val style = o("style") match {
        case JObj(fs) => fs
        case _        => Vector.empty[(String, JValue)]
      }
      val bbox = o("bbox") match {
        case JArr(items) if items.length == 4 =>
          Some((asNum(items(0)), asNum(items(1)), asNum(items(2)), asNum(items(3))))
        case _ => None
      }
      Feature(geom, props, style, bbox)
    case other => throw new IllegalArgumentException(s"geojson: expected feature, got ${kind(other)}")
  }

  def collectionFromJson(v: JValue): FeatureCollection = v match {
    case o: JObj =>
      o("type") match {
        case JStr("FeatureCollection") =>
          val feats = o("features") match {
            case JArr(items) => items.map(featureFromJson)
            case _           => Vector.empty[Feature]
          }
          val bbox = o("bbox") match {
            case JArr(items) if items.length == 4 =>
              Some((asNum(items(0)), asNum(items(1)), asNum(items(2)), asNum(items(3))))
            case _ => None
          }
          FeatureCollection(feats, bbox)
        case JStr("Feature") => FeatureCollection(Vector(featureFromJson(o)))
        // bare geometry auto-wrap, matching `KML.js:440-446`
        case JStr(_) => FeatureCollection(Vector(Feature(Some(geomFromJson(o)))))
        case t => throw new IllegalArgumentException(s"geojson: unknown root ${kind(t)}")
      }
    case other => throw new IllegalArgumentException(s"geojson: expected object, got ${kind(other)}")
  }

  def read(s: String): FeatureCollection = collectionFromJson(Json.parse(s))
  def readGeom(s: String): Geom = geomFromJson(Json.parse(s))
}
