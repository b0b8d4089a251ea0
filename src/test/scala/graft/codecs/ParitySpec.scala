package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import graft.core._

/** Golden parity: every codec compared byte-for-byte against the ACTUAL
  * reference (`/root/reference/dist/GeoConvert.js`) executed under node via
  * scripts/ref_oracle.js (minimal DOM shim). This pins SURVEY.md §5.3's quirk
  * contract with the reference itself as the oracle.
  */
object RefOracle {
  /** The repository root, where `scripts/ref_oracle.js` lives; build.sbt
    * passes it to the forked test JVM. */
  private val RepoRoot = new java.io.File(sys.props.getOrElse("graft.repoRoot", "."))
  def call(op: String, fields: (String, JValue)*): String = {
    val req = JObj(("op" -> (JStr(op): JValue)) +: fields.toVector).render
    val out = new StringBuilder
    val errOut = new StringBuilder
    val io = new ProcessIO(
      in => { in.write(req.getBytes("UTF-8")); in.close() },
      outS => { out.append(new String(outS.readAllBytes(), "UTF-8")); outS.close() },
      err => { errOut.append(new String(err.readAllBytes(), "UTF-8")); err.close() })
    val p = Process(Seq("node", "scripts/ref_oracle.js"), RepoRoot).run(io)
    assert(p.exitValue() == 0,
      s"oracle failed for $op: ${errOut.toString.linesIterator.take(6).mkString(" | ").take(500)}")
    out.toString
  }
  def apply(op: String, input: String): String = call(op, "input" -> JStr(input))
}

class WktParitySpec extends AnyFunSuite {
  val cases = Seq(
    "POINT (121.5 25.0)",
    "POINT(1 2)",
    "LINESTRING (30 10, 10 30, 40 40)",
    "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
    "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))",
    "MULTIPOINT ((10 40), (40 30))", // unsupported → empty collection (Q11)
    "GEOMETRYCOLLECTION (POINT (1 2))")
  test("wkt2Geojson matches reference byte-for-byte") {
    cases.foreach { wkt =>
      val ours = GeoJson.collectionToJson(Wkt.wktToFeatureCollection(wkt)).render
      val ref = RefOracle("wkt2geojson", wkt)
      assert(ours == ref, s"WKT: $wkt")
    }
  }
}

class GpxParitySpec extends AnyFunSuite {
  val gpxDocs = Seq(
    // wpt with props, numeric-ish name (sniffed to float by the reference)
    """<gpx><wpt lat="25.03" lon="121.56"><name>Taipei 101</name><cmt>c</cmt><desc>d</desc><time>2020-01-01T00:00:00Z</time></wpt></gpx>""",
    """<gpx><wpt lat="25.03" lon="121.56"><name>42</name></wpt></gpx>""",
    // trk single-seg multi-point → LineString; single point → Point
    """<gpx><trk><name>t</name><trkseg><trkpt lat="1.5" lon="2.5"></trkpt><trkpt lat="1.6" lon="2.6"></trkpt></trkseg></trk></gpx>""",
    """<gpx><trk><name>t</name><trkseg><trkpt lat="1.5" lon="2.5"></trkpt></trkseg></trk></gpx>""",
    // multi-seg trk → geometry {} quirk
    """<gpx><trk><name>t</name><trkseg><trkpt lat="1" lon="2"/></trkseg><trkseg><trkpt lat="3" lon="4"/></trkseg></trk></gpx>""",
    // rte multi + single; repeated wpt; missing props
    """<gpx><rte><name>r</name><rtept lat="1" lon="2"/><rtept lat="3" lon="4"/></rte><rte><rtept lat="9" lon="8"/></rte><wpt lat="0.5" lon="0.25"/></gpx>""")

  test("gpx2Geojson matches reference byte-for-byte") {
    gpxDocs.foreach { gpx =>
      val ours = GpxCodec.gpx2GeojsonString(gpx)
      val ref = RefOracle("gpx2geojson", gpx)
      assert(ours == ref, s"GPX: $gpx")
    }
  }

  val geojsons = Seq(
    """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"name":"p1"},"geometry":{"type":"Point","coordinates":[121.5,25.0]}},{"type":"Feature","properties":{"name":"l1"},"geometry":{"type":"LineString","coordinates":[[1,2],[3,4.5]]}}]}""",
    """{"type":"Feature","properties":{},"geometry":{"type":"MultiPoint","coordinates":[[1,2],[3,4]]}}""",
    """{"type":"Feature","properties":{"name":"gc"},"geometry":{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[5,6]},{"type":"LineString","coordinates":[[7,8],[9,10]]}]}}""",
    // polygon dropped (Q10)
    """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"name":"poly"},"geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}},{"type":"Feature","properties":{"name":"pt"},"geometry":{"type":"Point","coordinates":[1,1]}}]}""",
    // bare geometry root → auto-wrap
    """{"type":"Point","coordinates":[12.5,-3]}""")

  test("geojson2Gpx matches reference byte-for-byte") {
    geojsons.foreach { gj =>
      val ours = GpxCodec.geojson2Gpx(gj)
      val ref = RefOracle("geojson2gpx", gj)
      assert(ours == ref, s"GeoJSON: $gj")
    }
  }
}

class KmlParitySpec extends AnyFunSuite {
  val kmlDocs = Seq(
    // simple placemark, point
    """<kml><Document><Placemark><name>P1</name><description>D1</description><Point><coordinates>121.5,25.0,0</coordinates></Point></Placemark></Document></kml>""",
    // folder nesting + repeated placemarks + linestring with messy whitespace
    """<kml><Document><Folder><Placemark><name>A</name><LineString><coordinates>1,2 3,4
	5,6</coordinates></LineString></Placemark><Placemark><name>B</name><Point><coordinates>9,8</coordinates></Point></Placemark></Folder></Document></kml>""",
    // polygon with 2 holes
    """<kml><Document><Placemark><Polygon><outerBoundaryIs><LinearRing><coordinates>0,0 10,0 10,10 0,10 0,0</coordinates></LinearRing></outerBoundaryIs><innerBoundaryIs><LinearRing><coordinates>2,2 4,2 4,4 2,2</coordinates></LinearRing></innerBoundaryIs><innerBoundaryIs><LinearRing><coordinates>6,6 8,6 8,8 6,6</coordinates></LinearRing></innerBoundaryIs></Polygon></Placemark></Document></kml>""",
    // shared style + styleUrl + inline style merge
    """<kml><Document><Style id="s1"><LineStyle><color>7f0000ff</color><width>3</width></LineStyle><PolyStyle><color>7d00ff00</color><outline>1</outline></PolyStyle></Style><Placemark><styleUrl>#s1</styleUrl><Point><coordinates>1,1</coordinates></Point></Placemark><Placemark><Style><LineStyle><color>ff123456</color></LineStyle></Style><styleUrl>#s1</styleUrl><Point><coordinates>2,2</coordinates></Point></Placemark></Document></kml>""",
    // StyleMap indirection (normal pair)
    """<kml><Document><Style id="base"><IconStyle><Icon><href>icons/a.png</href></Icon><scale>1.5</scale><color>99ffcc00</color><hotSpot x="16" y="31"/></IconStyle></Style><StyleMap id="m1"><Pair><key>normal</key><styleUrl>#base</styleUrl></Pair><Pair><key>highlight</key><styleUrl>#other</styleUrl></Pair></StyleMap><Placemark><styleUrl>#m1</styleUrl><Point><coordinates>3,3</coordinates></Point></Placemark></Document></kml>""",
    // StyleMap AFTER placemark: lookup misses (document-order quirk)
    """<kml><Document><Placemark><styleUrl>#late</styleUrl><Point><coordinates>4,4</coordinates></Point></Placemark><StyleMap id="late"><Pair><key>normal</key><styleUrl>#base</styleUrl></Pair></StyleMap><Style id="base"><LineStyle><color>ffff0000</color></LineStyle></Style></Document></kml>""",
    // MultiGeometry: single type collapse + mixed types
    """<kml><Document><Placemark><MultiGeometry><Point><coordinates>1,1</coordinates></Point><Point><coordinates>2,2</coordinates></Point></MultiGeometry></Placemark><Placemark><MultiGeometry><Point><coordinates>1,1</coordinates></Point><LineString><coordinates>1,1 2,2</coordinates></LineString></MultiGeometry></Placemark></Document></kml>""",
    // gx:Track with when + SimpleArrayData
    """<kml><Document><Placemark><gx:Track><when>2020-01-01T00:00:00Z</when><when>2020-01-01T00:01:00Z</when><gx:coord>121.5 25.0 10</gx:coord><gx:coord>121.6 25.1 12</gx:coord><ExtendedData><SchemaData><gx:SimpleArrayData name="speed"><gx:value>1.5</gx:value><gx:value>2.5</gx:value></gx:SimpleArrayData><gx:SimpleArrayData name="cadence"><gx:value>80</gx:value><gx:value>82</gx:value></gx:SimpleArrayData></SchemaData></ExtendedData></gx:Track></Placemark></Document></kml>""",
    // GroundOverlay (Q13 latLngBounds [lat,lng] order)
    """<kml><Document><GroundOverlay><name>GO</name><Icon><href>http://x/y.png</href></Icon><visibility>1</visibility><LatLonBox><north>25.5</north><south>24.5</south><east>122.0</east><west>121.0</west></LatLonBox></GroundOverlay></Document></kml>""",
    // kml: namespace prefix strip
    """<kml:kml><kml:Document><kml:Placemark><kml:Point><kml:coordinates>7,8</kml:coordinates></kml:Point></kml:Placemark></kml:Document></kml:kml>""",
    // placemark without geometry → geometry {}
    """<kml><Document><Placemark><name>empty</name></Placemark></Document></kml>""")

  test("kml2Geojson matches reference byte-for-byte") {
    kmlDocs.foreach { kml =>
      val ours = KmlCodec.kml2GeojsonString(kml)
      val ref = RefOracle("kml2geojson", kml)
      assert(ours == ref, s"KML: ${kml.take(90)}")
    }
  }

  val geojsons = Seq(
    // basic features with styles; dedup (identical style → same custom id, Q5)
    """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"name":"a"},"style":{"color":"#ff0000","opacity":0.5,"weight":2},"geometry":{"type":"Point","coordinates":[1,2]}},{"type":"Feature","properties":{"name":"b"},"style":{"color":"#ff0000","opacity":0.5,"weight":2},"geometry":{"type":"Point","coordinates":[3,4]}}]}""",
    // Q3: stroke without fill → <fill>undefined</fill>; Q6 low opacity unpadded alpha
    """{"type":"Feature","properties":{},"style":{"stroke":1,"fillColor":"#00ff00","fillOpacity":0.02},"geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,0]]]}}""",
    // Q4: polygon with 2 holes → only last innerBoundaryIs survives
    """{"type":"Feature","properties":{},"style":{},"geometry":{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],[[2,2],[4,2],[4,4],[2,2]],[[6,6],[8,6],[8,8],[6,6]]]}}""",
    // multigeometry + geometry collection
    """{"type":"Feature","properties":{"name":"mg"},"style":{},"geometry":{"type":"MultiLineString","coordinates":[[[1,2],[3,4]],[[5,6],[7,8]]]}}""",
    """{"type":"Feature","properties":{},"style":{},"geometry":{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,1]},{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,0]]]}]}}""",
    // icon style with anchor (array-valued style key: never dedups, Q5)
    """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{},"style":{"iconUrl":"i.png","iconAnchor":[16,31],"scale":1.5},"geometry":{"type":"Point","coordinates":[5,5]}},{"type":"Feature","properties":{},"style":{"iconUrl":"i.png","iconAnchor":[16,31],"scale":1.5},"geometry":{"type":"Point","coordinates":[6,6]}}]}""",
    // bare geometry auto-wrap
    """{"type":"LineString","coordinates":[[0,0],[1.25,2.5]]}""")

  test("geojson2Kml matches reference byte-for-byte") {
    geojsons.foreach { gj =>
      val ours = KmlCodec.geojson2Kml(gj)
      val ref = RefOracle("geojson2kml", gj)
      assert(ours == ref, s"GeoJSON: ${gj.take(90)}")
    }
  }

  test("kml round-trip: kml -> geojson -> kml -> geojson is stable") {
    val kml = kmlDocs(3)
    val gj1 = KmlCodec.kml2GeojsonString(kml)
    val kml2 = KmlCodec.geojson2Kml(gj1)
    val gj2 = KmlCodec.kml2GeojsonString(kml2)
    val kml3 = KmlCodec.geojson2Kml(gj2)
    assert(kml2 == kml3) // fixpoint after one round trip
  }

  test("geojson_to_kml: JSON nested deeper than Json.MaxDepth is null (diverges from the reference)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.GeojsonToKml
    // The reference's JSON.parse takes any depth its stack allows; core.Json
    // stops at MaxDepth (1000) so that deep input is malformed, not a
    // StackOverflowError. Root object = depth 1, properties = depth 2.
    def feature(depth: Int) = {
      val n = depth - 2
      s"""{"type":"Feature","properties":{"p":${"[" * n}${"]" * n}},""" +
        """"geometry":{"type":"Point","coordinates":[1,2]}}"""
    }
    assert(GeojsonToKml(Literal(feature(Json.MaxDepth))).eval() != null)
    assert(GeojsonToKml(Literal(feature(Json.MaxDepth + 1))).eval() == null)
  }
}

class XmlParitySpec extends AnyFunSuite {
  val docs = Seq(
    """<root a="1.5" b="x"><child>text</child><child>7</child><leaf/></root>""",
    """<r><n>007</n><n>12abc</n><n> 42 </n><n>0x10</n><n></n></r>""",
    """<r attr="zip"><v>00501</v></r>""")
  test("xml2Json matches reference byte-for-byte") {
    docs.foreach { xml =>
      val ours = XmlJson.xml2Json(xml).render
      val ref = RefOracle("xml2json", xml)
      assert(ours == ref, s"XML: $xml")
    }
  }

  test("fused parser: malformed-input behavior pinned (open-time structure)") {
    import graft.core.{JObj, JStr}
    // unclosed root: unwound at EOF, structure fixed at element-open time
    assert(XmlJson.xml2Json("""<a><b>x</b>""").render == """{"a":{"b":"x"}}""")
    // unclosed inner element: close tags pop by position, not by name
    assert(XmlJson.xml2Json("""<a><b><c>t</c></a>""").render == """{"a":{"b":{"c":"t"}}}""")
    // a second top-level element is ignored (first element child wins)
    assert(XmlJson.xml2Json("""<a>x</a><b>y</b>""").render == """{"a":"x"}""")
    // stray close tags before any element are no-ops
    assert(XmlJson.xml2Json("""</z><a/>""").render == """{"a":""}""")
    // stray '/' inside a tag (not "/>") must terminate, not stall the scanner
    assert(XmlJson.xml2Json("""<a / ><b>x</b>""").render.nonEmpty)
    assert(XmlJson.xml2Json("""<a foo/bar>t</a>""").render.nonEmpty)
    // no document element at all
    intercept[IllegalArgumentException](XmlJson.xml2Json("just text"))
  }
}

/** Hand-written binary .shp/.dbf builders (FIXTURES.md §3). */
object ShpBuilder {
  def shpFile(records: Seq[Array[Byte]], bbox: (Double, Double, Double, Double)): Array[Byte] = {
    val contentBytes = records.map(_.length + 8).sum
    val buf = ByteBuffer.allocate(100 + contentBytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, (100 + contentBytes) / 2) // length in 16-bit words, BE
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(28, 1000)
    buf.putInt(32, 0) // header shape type (unused by reference reads)
    buf.putDouble(36, bbox._1); buf.putDouble(44, bbox._2)
    buf.putDouble(52, bbox._3); buf.putDouble(60, bbox._4)
    var off = 100
    records.zipWithIndex.foreach { case (rec, i) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(off, i + 1)
      buf.putInt(off + 4, rec.length / 2)
      off += 8
      rec.foreach { b => buf.put(off, b); off += 1 }
    }
    buf.array()
  }

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  def nullRecord(): Array[Byte] = { val b = le(4); b.putInt(0, 0); b.array() }

  def point(x: Double, y: Double, shapeType: Int = 1): Array[Byte] = {
    val extra = shapeType match { case 11 => 16; case 21 => 8; case _ => 0 }
    val b = le(20 + extra)
    b.putInt(0, shapeType); b.putDouble(4, x); b.putDouble(12, y)
    b.array()
  }

  def multiPoint(pts: Seq[(Double, Double)]): Array[Byte] = {
    val b = le(4 + 32 + 4 + pts.length * 16)
    b.putInt(0, 8)
    putBox(b, 4, pts)
    b.putInt(36, pts.length)
    pts.zipWithIndex.foreach { case ((x, y), i) =>
      b.putDouble(40 + i * 16, x); b.putDouble(48 + i * 16, y)
    }
    b.array()
  }

  private def putBox(b: ByteBuffer, off: Int, pts: Seq[(Double, Double)]): Unit = {
    b.putDouble(off, pts.map(_._1).min); b.putDouble(off + 8, pts.map(_._2).min)
    b.putDouble(off + 16, pts.map(_._1).max); b.putDouble(off + 24, pts.map(_._2).max)
  }

  /** shapeType 3 = polyline, 5 = polygon; parts = ring/part point lists. */
  def poly(shapeType: Int, parts: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val allPts = parts.flatten
    val b = le(4 + 32 + 8 + 4 * parts.length + allPts.length * 16)
    b.putInt(0, shapeType)
    putBox(b, 4, allPts)
    b.putInt(36, parts.length)
    b.putInt(40, allPts.length)
    var start = 0
    parts.zipWithIndex.foreach { case (p, i) => b.putInt(44 + 4 * i, start); start += p.length }
    val base = 44 + 4 * parts.length
    allPts.zipWithIndex.foreach { case ((x, y), i) =>
      b.putDouble(base + i * 16, x); b.putDouble(base + i * 16 + 8, y)
    }
    b.array()
  }

  /** dBase III .dbf: fields (name, type, length), rows of fixed-width strings. */
  def dbf(fields: Seq[(String, Char, Int)], rows: Seq[Seq[String]],
      ldid: Int = 0x00, charset: String = "UTF-8"): Array[Byte] = {
    val headerLength = 32 + fields.length * 32 + 1
    val recordLength = 1 + fields.map(_._3).sum
    val buf = ByteBuffer.allocate(headerLength + rows.length * recordLength + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 0x03.toByte)
    buf.putInt(4, rows.length)
    buf.putShort(8, headerLength.toShort)
    buf.putShort(10, recordLength.toShort)
    buf.put(29, ldid.toByte)
    fields.zipWithIndex.foreach { case ((name, tpe, len), i) =>
      val off = 32 + i * 32
      val nb = name.getBytes(charset)
      nb.take(10).zipWithIndex.foreach { case (b, j) => buf.put(off + j, b) }
      buf.put(off + 11, tpe.toByte)
      buf.put(off + 16, len.toByte)
    }
    buf.put(32 + fields.length * 32, 0x0D.toByte)
    rows.zipWithIndex.foreach { case (row, i) =>
      var off = headerLength + i * recordLength
      buf.put(off, ' '.toByte); off += 1
      row.zip(fields).foreach { case (v, (_, _, len)) =>
        val vb = v.getBytes(charset)
        (0 until len).foreach { j =>
          buf.put(off + j, if (j < vb.length) vb(j) else ' '.toByte)
        }
        off += len
      }
    }
    buf.array()
  }
}

class ShpParitySpec extends AnyFunSuite {
  import ShpBuilder._

  def b64(a: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(a)

  def compare(shp: Array[Byte], dbf: Array[Byte], prj: Option[String] = None): Unit = {
    val ours = ShpCodec.shapefile2GeojsonString(
      ShpCodec.ShapeInput(shp, dbf, prj))
    val fields = Vector[(String, JValue)](
      "shpB64" -> JStr(b64(shp)), "dbfB64" -> JStr(b64(dbf))) ++
      prj.map(p => "prj" -> (JStr(p): JValue)).toVector
    val ref = RefOracle.call("shp2geojson", fields: _*)
    assert(ours == ref)
  }

  // CW ring (shapefile outer) and CCW (hole) under the reference's
  // y-down-free shoelace: acc >= 0 means "outer"
  val cw = Seq((10.0, 10.0), (10.0, 20.0), (20.0, 20.0), (20.0, 10.0), (10.0, 10.0))
  val ccw = cw.reverse
  val hole = Seq((12.0, 12.0), (14.0, 12.0), (14.0, 14.0), (12.0, 14.0), (12.0, 12.0))

  test("points + nulls + dbf join matches reference") {
    val shp = shpFile(Seq(
      point(121.5, 25.0),
      nullRecord(),
      point(2.5, -3.5, shapeType = 11), // PointZ via plain reader (Q9)
      point(7.25, 8.5, shapeType = 21)), (2.5, -3.5, 121.5, 25.0))
    val dbf = ShpBuilder.dbf(
      Seq(("NAME", 'C', 8), ("VAL", 'N', 5), ("DT", 'D', 8)),
      Seq(Seq("alpha", "1.5", "20200101"), Seq("beta", "22", "20200102"),
        Seq("gamma", "", "20200103"), Seq("delta", "-4", "20200104")))
    compare(shp, dbf)
  }

  test("polyline single + multi part matches reference") {
    val shp = shpFile(Seq(
      poly(3, Seq(Seq((0.0, 0.0), (5.0, 5.0), (10.0, 0.0)))),
      poly(3, Seq(Seq((0.0, 0.0), (1.0, 1.0)), Seq((2.0, 2.0), (3.0, 3.0), (4.0, 2.0))))),
      (0, 0, 10, 5))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2")))
    compare(shp, dbf)
  }

  test("polygon with hole + multipolygon + Q7 matches reference") {
    val shp = shpFile(Seq(
      poly(5, Seq(cw)),                     // simple polygon
      poly(5, Seq(cw, hole.reverse)),       // outer + CCW hole → Multi (Q7: 2 parts)
      poly(5, Seq(cw, cw.map { case (x, y) => (x + 100, y) }))), // two outers
      (0, 0, 200, 200))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2"), Seq("3")))
    compare(shp, dbf)
  }

  test("multipoint + big5 dbf (LDID 0x4F) matches reference") {
    val shp = shpFile(Seq(multiPoint(Seq((1.0, 2.0), (3.0, 4.0)))), (1, 2, 3, 4))
    val dbf = ShpBuilder.dbf(Seq(("CITY", 'C', 10)), Seq(Seq("台北市")),
      ldid = 0x4F, charset = "Big5")
    compare(shp, dbf)
  }

  test("WGS84 prj is a no-op gate (Q8)") {
    val shp = shpFile(Seq(point(10.0, 20.0)), (10, 20, 10, 20))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 2)), Seq(Seq("1")))
    compare(shp, dbf, Some("""GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]"""))
  }

  test("zero-coordinate vertices exercise the !prevX falsy quirk") {
    // ring passing through x=0 and y=0 — reference resets its shoelace pair
    val ring = Seq((0.0, 5.0), (5.0, 0.0), (-5.0, -5.0), (0.0, 5.0))
    val shp = shpFile(Seq(poly(5, Seq(ring))), (-5, -5, 5, 5))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 2)), Seq(Seq("1")))
    compare(shp, dbf)
  }

  // ---- non-WGS84 PROJCS parity: the reference runs its REAL bundled proj4
  // (ref_oracle.js loads /root/reference/lib/proj4.js), so these pin our
  // from-scratch LCC/Albers inverses byte-for-byte against the live path.
  // NAD83/GRS80 datums: no WGS84-regex short-circuit, and proj4's
  // compare_datums makes the datum step a bitwise no-op.

  private val nad83Geogcs =
    """GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",""" +
      """SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],""" +
      """UNIT["Degree",0.0174532925199433]]"""

  val lccPrj: String =
    s"""PROJCS["Custom_LCC_NAD83",$nad83Geogcs,PROJECTION["Lambert_Conformal_Conic"],""" +
      """PARAMETER["False_Easting",700000.0],PARAMETER["False_Northing",300000.0],""" +
      """PARAMETER["Central_Meridian",-100.0],PARAMETER["Standard_Parallel_1",27.5],""" +
      """PARAMETER["Standard_Parallel_2",35.0],PARAMETER["Latitude_Of_Origin",31.166666666666668],""" +
      """UNIT["Meter",1.0]]"""

  test("LCC (NAD83, meters) .prj reprojects byte-identically to reference proj4") {
    val shp = shpFile(Seq(
      point(264224.75, 787651.5),
      poly(3, Seq(Seq((700000.0, 300000.0), (712345.25, 309876.5), (725000.125, 298765.0625)))),
      poly(5, Seq(Seq((800000.0, 500000.0), (800000.0, 520000.0), (820000.0, 520000.0),
        (820000.0, 500000.0), (800000.0, 500000.0)))),
      multiPoint(Seq((650000.5, 450000.25), (900000.0, 1200000.0)))),
      (264224.75, 298765.0625, 900000.0, 1200000.0))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2"), Seq("3"), Seq("4")))
    compare(shp, dbf, Some(lccPrj))
  }

  test("LCC (US survey foot unit) .prj applies to_meter byte-identically") {
    val footPrj = lccPrj.replace("""UNIT["Meter",1.0]""",
      """UNIT["Foot_US",0.3048006096012192]""")
    val shp = shpFile(Seq(
      point(2100000.25, 900000.125),
      poly(3, Seq(Seq((2296583.333333333, 984250.0), (2300000.0, 990000.5))))),
      (2100000.25, 900000.125, 2300000.0, 990000.5))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2")))
    compare(shp, dbf, Some(footPrj))
  }

  test("Transverse Mercator (NAD83 State-Plane-style) .prj reprojects byte-identically") {
    val tmPrj =
      s"""PROJCS["NAD_1983_StatePlane_Florida_East_FIPS_0901",$nad83Geogcs,""" +
        """PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",200000.0],""" +
        """PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",-81.0],""" +
        """PARAMETER["Scale_Factor",0.9999411764705882],""" +
        """PARAMETER["Latitude_Of_Origin",24.333333333333332],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(200000.0, 0.0),
      point(156831.625, 428301.875),
      poly(3, Seq(Seq((120000.0, 300000.0), (250000.25, 450000.5), (299999.875, 600000.0))))),
      (120000.0, 0.0, 299999.875, 600000.0))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2"), Seq("3")))
    compare(shp, dbf, Some(tmPrj))
  }

  test("fuzz: randomized LCC/Albers/TM/sterea/LAEA/Mercator params + coordinates, byte parity vs proj4") {
    val rnd = new scala.util.Random(1234)
    def d3(x: Double): Double = Math.rint(x * 1000) / 1000 // printable params
    (1 to 18).foreach { i =>
      val kind = i % 6
      val cm = d3(-170 + rnd.nextDouble() * 340)
      val lat0 = d3(-60 + rnd.nextDouble() * 120)
      val sp1 = d3(lat0 + 2 + rnd.nextDouble() * 8)
      val sp2 = d3(sp1 + 2 + rnd.nextDouble() * 10)
      val fe = d3(rnd.nextDouble() * 1000000)
      val fn = d3(rnd.nextDouble() * 1000000)
      val prj = kind match {
        case 0 =>
          s"""PROJCS["Fuzz_LCC_$i",$nad83Geogcs,PROJECTION["Lambert_Conformal_Conic"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],PARAMETER["Standard_Parallel_1",$sp1],""" +
            s"""PARAMETER["Standard_Parallel_2",$sp2],PARAMETER["Latitude_Of_Origin",$lat0],""" +
            s"""UNIT["Meter",1.0]]"""
        case 1 =>
          s"""PROJCS["Fuzz_Albers_$i",$nad83Geogcs,PROJECTION["Albers"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],PARAMETER["Standard_Parallel_1",$sp1],""" +
            s"""PARAMETER["Standard_Parallel_2",$sp2],PARAMETER["Latitude_Of_Origin",$lat0],""" +
            s"""UNIT["Meter",1.0]]"""
        case 2 =>
          val k0 = 0.9996 + rnd.nextDouble() * 0.0004
          s"""PROJCS["Fuzz_TM_$i",$nad83Geogcs,PROJECTION["Transverse_Mercator"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],PARAMETER["Scale_Factor",$k0],""" +
            s"""PARAMETER["Latitude_Of_Origin",$lat0],UNIT["Meter",1.0]]"""
        case 3 =>
          val k0 = 0.9996 + rnd.nextDouble() * 0.0004
          s"""PROJCS["Fuzz_Sterea_$i",$nad83Geogcs,PROJECTION["Oblique_Stereographic"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],PARAMETER["Scale_Factor",$k0],""" +
            s"""PARAMETER["Latitude_Of_Origin",$lat0],UNIT["Meter",1.0]]"""
        case 4 =>
          s"""PROJCS["Fuzz_LAEA_$i",$nad83Geogcs,PROJECTION["Lambert_Azimuthal_Equal_Area"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],""" +
            s"""PARAMETER["Latitude_Of_Origin",$lat0],UNIT["Meter",1.0]]"""
        case _ =>
          s"""PROJCS["Fuzz_Merc_$i",$nad83Geogcs,PROJECTION["Mercator"],""" +
            s"""PARAMETER["False_Easting",$fe],PARAMETER["False_Northing",$fn],""" +
            s"""PARAMETER["Central_Meridian",$cm],""" +
            s"""PARAMETER["Standard_Parallel_1",$lat0],UNIT["Meter",1.0]]"""
      }
      // projected coordinates in a plausible envelope around the origin
      val pts = (0 until 25).map { _ =>
        (fe + (rnd.nextDouble() - 0.5) * 600000,
          fn + rnd.nextDouble() * 800000)
      }
      val shp = shpFile(
        pts.map { case (x, y) => point(x, y) } :+
          poly(3, Seq(pts.take(5))),
        (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max))
      val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), (0 to 25).map(j => Seq(j.toString)))
      try {
        // Albers/TM/LAEA use no general-exponent pow → byte-exact always.
        // LCC (t^ns), sterea (srat/K), and Mercator (phi2z) go through PowCR
        // (correctly rounded); node's Math.pow is glibc's nearly-CR pow
        // (documented ≤0.52 ulp, measured 0.08% of calls off-by-one vs CR),
        // so on its sub-CR inputs the reference itself is the one a ulp off;
        // the fixed-point iterations amplify that to a few ulps of latitude.
        // Tolerate ≤8 ulps on ≤6 of the ~52 numbers per pow-bearing config
        // (pow runs once per phi2z/gauss iteration, so a handful of tail
        // hits per config is the expected glibc sub-CR rate).
        if (kind == 0 || kind == 3 || kind == 5) compareUlp(shp, dbf, prj, maxUlpDiffs = 6)
        else compare(shp, dbf, Some(prj))
      } catch {
        case e: Throwable =>
          throw new AssertionError(s"fuzz config $i kind=$kind cm=$cm lat0=$lat0 sp1=$sp1 sp2=$sp2 fe=$fe fn=$fn pt0=${pts.head}: ${e.getMessage.take(300)}", e)
      }
    }
  }

  private def compareUlp(shp: Array[Byte], dbf: Array[Byte], prj: String, maxUlpDiffs: Int): Unit = {
    val ours = ShpCodec.shapefile2GeojsonString(ShpCodec.ShapeInput(shp, dbf, Some(prj)))
    val ref = RefOracle.call("shp2geojson",
      "shpB64" -> JStr(b64(shp)), "dbfB64" -> JStr(b64(dbf)), "prj" -> JStr(prj))
    if (ours == ref) return
    val numRe = """-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?""".r
    assert(numRe.replaceAllIn(ours, "N") == numRe.replaceAllIn(ref, "N"),
      "non-numeric structure differs")
    val a = numRe.findAllIn(ours).map(_.toDouble).toVector
    val b = numRe.findAllIn(ref).map(_.toDouble).toVector
    assert(a.size == b.size)
    var diffs = 0
    a.zip(b).foreach { case (x, y) =>
      if (x != y) {
        diffs += 1
        val ulps = Math.abs(
          java.lang.Double.doubleToLongBits(x) - java.lang.Double.doubleToLongBits(y))
        assert(ulps <= 8, s"coordinate $x vs $y differs by $ulps ulps")
      }
    }
    assert(diffs <= maxUlpDiffs, s"$diffs coordinates differ (allowed $maxUlpDiffs)")
  }

  test("South-polar Stereographic .prj reprojects byte-identically") {
    // the only stereographic variant the reference's proj4 maps from WKT;
    // NAD83 datum so the regex gate doesn't short-circuit the transform
    val psPrj =
      s"""PROJCS["Custom_Antarctic_PS",$nad83Geogcs,PROJECTION["Stereographic_South_Pole"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",-71.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(0.0, -1234567.875),
      point(2200000.5, 1100000.25),
      point(0.0, 0.0), // the pole itself (k == 0 branch)
      poly(3, Seq(Seq((-1500000.0, -1500000.0), (-800000.125, 400000.5), (100000.0, 2000000.0))))),
      (-1500000.0, -1500000.0, 2200000.5, 2000000.0))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2"), Seq("3"), Seq("4")))
    compare(shp, dbf, Some(psPrj))
  }

  test("Albers (NAD83 USA Contiguous) .prj reprojects byte-identically") {
    val albersPrj =
      s"""PROJCS["USA_Contiguous_Albers_Equal_Area_Conic",$nad83Geogcs,PROJECTION["Albers"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",-96.0],PARAMETER["Standard_Parallel_1",29.5],""" +
        """PARAMETER["Standard_Parallel_2",45.5],PARAMETER["Latitude_Of_Origin",37.5],""" +
        """UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(-1234567.875, 876543.0625),
      point(0.0, 0.0),
      poly(3, Seq(Seq((-2000000.0, -400000.0), (-1500000.0, 100000.5), (2200000.0, 1300000.25)))),
      poly(5, Seq(Seq((100000.0, 200000.0), (100000.0, 400000.0), (350000.0, 400000.0),
        (350000.0, 200000.0), (100000.0, 200000.0))))),
      (-2000000.0, -400000.0, 2200000.0, 1300000.25))
    val dbf = ShpBuilder.dbf(Seq(("ID", 'N', 3)), Seq(Seq("1"), Seq("2"), Seq("3"), Seq("4")))
    compare(shp, dbf, Some(albersPrj))
  }

  // ---- round-3 CRS long tail: the live bundle maps Stereographic_North_Pole,
  // Oblique_Stereographic AND Polar_Stereographic to `sterea` (the Gaussian-
  // sphere double stereographic, module 61) — NOT to the polar `stere`
  // branch; these pin our from-scratch sterea/laea/merc + datum shifts
  // byte-for-byte against the genuine proj4 path.

  private def idDbf(n: Int) =
    ShpBuilder.dbf(Seq(("ID", 'N', 3)), (1 to n).map(j => Seq(j.toString)))

  test("Stereographic_North_Pole .prj (sterea, not polar stere) reprojects byte-identically") {
    val prj =
      s"""PROJCS["Custom_NP_Stereo",$nad83Geogcs,PROJECTION["Stereographic_North_Pole"],""" +
        """PARAMETER["False_Easting",2000000.0],PARAMETER["False_Northing",2000000.0],""" +
        """PARAMETER["Central_Meridian",-45.0],PARAMETER["Standard_Parallel_1",70.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(2300000.0, 1700000.0),
      point(2000000.0, 2000000.0), // exact origin → h == 0 branch (phic0)
      poly(3, Seq(Seq((500000.5, 300000.25), (2750000.0, 3100000.875), (4000000.0, 2000000.0))))),
      (500000.5, 300000.25, 4000000.0, 3100000.875))
    compare(shp, idDbf(3), Some(prj))
  }

  test("Oblique_Stereographic .prj (RD-New-style params) reprojects byte-identically") {
    val prj =
      s"""PROJCS["Custom_Oblique_Stereo",$nad83Geogcs,PROJECTION["Oblique_Stereographic"],""" +
        """PARAMETER["False_Easting",155000.0],PARAMETER["False_Northing",463000.0],""" +
        """PARAMETER["Central_Meridian",5.38763888888889],""" +
        """PARAMETER["Scale_Factor",0.9999079],""" +
        """PARAMETER["Latitude_Of_Origin",52.15616055555555],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(200000.0, 500000.0),
      point(0.0, 0.0),
      poly(3, Seq(Seq((100000.125, 400000.5), (155000.0, 463000.0), (280000.0, 610000.75))))),
      (0.0, 0.0, 280000.0, 610000.75))
    // sterea's srat/K run general-exponent pow: PowCR is correctly rounded,
    // glibc (V8) has a documented sub-CR tail — same ≤8-ulp tolerance as LCC
    compareUlp(shp, idDbf(3), prj, maxUlpDiffs = 2)
  }

  test("Polar_Stereographic name quirk: proj4 maps it to OBLIQUE sterea at lat0=SP1") {
    // a real-world Antarctic .prj using PROJECTION["Polar_Stereographic"]
    // does NOT get the polar variant in the reference — the name is in
    // sterea's list, so lat0 = Standard_Parallel_1 = -71 runs the Gaussian
    // oblique path; pinned byte-for-byte
    val prj =
      s"""PROJCS["Quirk_Polar_Stereographic",$nad83Geogcs,PROJECTION["Polar_Stereographic"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",166.0],PARAMETER["Standard_Parallel_1",-71.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(250000.5, -300000.25),
      point(-750000.0, 420000.0)),
      (-750000.0, -300000.25, 250000.5, 420000.0))
    compareUlp(shp, idDbf(2), prj, maxUlpDiffs = 2) // sterea pow tail, as above
  }

  test("Lambert_Azimuthal_Equal_Area .prj (oblique + equatorial modes) reprojects byte-identically") {
    val oblique =
      s"""PROJCS["Custom_LAEA_Europe",$nad83Geogcs,PROJECTION["Lambert_Azimuthal_Equal_Area"],""" +
        """PARAMETER["False_Easting",4321000.0],PARAMETER["False_Northing",3210000.0],""" +
        """PARAMETER["Central_Meridian",10.0],PARAMETER["Latitude_Of_Origin",52.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp1 = shpFile(Seq(
      point(4500000.0, 3300000.0),
      point(3000000.25, 2000000.125),
      poly(3, Seq(Seq((3900000.0, 2700000.5), (4321000.0, 3210000.0), (5100000.0, 4100000.0))))),
      (3000000.25, 2000000.125, 5100000.0, 4100000.0))
    compare(shp1, idDbf(3), Some(oblique))
    val equatorial =
      s"""PROJCS["Custom_LAEA_Equatorial",$nad83Geogcs,PROJECTION["Lambert_Azimuthal_Equal_Area"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",20.0],PARAMETER["Latitude_Of_Origin",0.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp2 = shpFile(Seq(
      point(1000000.0, -800000.5),
      point(-2500000.25, 1500000.0)),
      (-2500000.25, -800000.5, 1000000.0, 1500000.0))
    compare(shp2, idDbf(2), Some(equatorial))
  }

  test("Mercator .prj (ellipsoidal; SP1 is NOT lat_ts in the WKT path) reprojects byte-identically") {
    // the bundle's wkt module never maps Standard_Parallel_1 → lat_ts, so
    // k0 stays 1 even with SP1 = 41 (verified against the live bundle) —
    // the quirk is part of the parity contract
    val prj =
      s"""PROJCS["Custom_World_Mercator",$nad83Geogcs,PROJECTION["Mercator"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",41.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(1113194.9079327357, 4838471.398061),
      point(-8000000.0, -3500000.125),
      poly(3, Seq(Seq((0.0, 0.0), (2000000.5, 6000000.0), (19000000.0, 14000000.0))))),
      (-8000000.0, -3500000.125, 19000000.0, 14000000.0))
    // phi2z's ((1−esinφ)/(1+esinφ))^(e/2) pow: same sub-CR tail as LCC
    compareUlp(shp, idDbf(3), prj, maxUlpDiffs = 2)
  }

  test("Mercator_Auxiliary_Sphere .prj (D_WGS_1984 datum → sphere branch) reprojects byte-identically") {
    // the sphere flag requires datumCode wgs_1984 — the GEOGCS name is kept
    // clear of the /GCS_WGS_1984|WGS84/ identity regex so the reference
    // actually runs its proj4 path on this fixture
    val auxGeogcs =
      """GEOGCS["GCS_Auxiliary",DATUM["D_WGS_1984",""" +
        """SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    val prj =
      s"""PROJCS["Custom_Web_Mercator_Aux",$auxGeogcs,PROJECTION["Mercator_Auxiliary_Sphere"],""" +
        """PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",0.0],""" +
        """PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(13580977.876779376, 3503549.8435043753),
      point(-19926188.85, -15496570.74),
      poly(3, Seq(Seq((0.0, 0.0), (-1113194.9079327357, 6446275.841017158), (2226389.8158654715, -2273030.926987689))))),
      (-19926188.85, -15496570.74, 13580977.876779376, 6446275.841017158))
    compare(shp, idDbf(3), Some(prj))
  }

  test("NAD27 (Clarke 1866) .prj: ellipsoid swap through geocentric, byte-identically") {
    // D_North_American_1927 lowercases to north_american_1927 — NOT the
    // bundle's nad27 table key — so the reference applies no parameter
    // shift and no grid: just geodetic→geocentric on Clarke 1866 and the
    // iterative geocentric→geodetic on WGS84. Pinned against the live path.
    val nad27Geogcs =
      """GEOGCS["GCS_North_American_1927",DATUM["D_North_American_1927",""" +
        """SPHEROID["Clarke_1866",6378206.4,294.9786982]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    // Transverse Mercator uses no general-exponent pow → the datum
    // round-trip is pinned BYTE-EXACT here (the 7-param OSGB case below
    // covers the Helmert branch the same way)
    val prj =
      s"""PROJCS["NAD27_StatePlane_Style_TM",$nad27Geogcs,PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["False_Easting",152400.30480061],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",-85.66666666666667],PARAMETER["Scale_Factor",0.9999642857142857],""" +
        """PARAMETER["Latitude_Of_Origin",30.5],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(152400.30480061, 0.0),
      point(60000.5, 450000.25),
      poly(3, Seq(Seq((100000.0, 120000.125), (200000.0, 300000.0), (152400.30480061, 600000.0))))),
      (60000.5, 0.0, 200000.0, 600000.0))
    compare(shp, idDbf(3), Some(prj))
    // and the LCC+datum combination with the pow-tail allowance (the datum
    // iteration feeds every coordinate through extra rounding steps, so a
    // couple more coords land on the tail than in the no-datum LCC fixture)
    val lccPrj27 =
      s"""PROJCS["NAD27_Texas_Style_LCC",$nad27Geogcs,PROJECTION["Lambert_Conformal_Conic"],""" +
        """PARAMETER["False_Easting",600000.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",-100.0],PARAMETER["Standard_Parallel_1",33.0],""" +
        """PARAMETER["Standard_Parallel_2",45.0],PARAMETER["Latitude_Of_Origin",27.0],""" +
        """UNIT["Meter",1.0]]"""
    val shp2 = shpFile(Seq(
      point(700000.0, 800000.0),
      point(123456.78125, 1500000.5)),
      (123456.78125, 800000.0, 700000.0, 1500000.5))
    compareUlp(shp2, idDbf(2), lccPrj27, maxUlpDiffs = 8)
  }

  test("OSGB 1936 .prj: 7-parameter Helmert datum shift, byte-identically") {
    // D_OSGB_1936 reaches the bundle's osgb36 towgs84 entry (7-param:
    // translations + arc-second rotations + ppm scale) — British National
    // Grid is the canonical real-world case
    val osgbGeogcs =
      """GEOGCS["GCS_OSGB_1936",DATUM["D_OSGB_1936",""" +
        """SPHEROID["Airy_1830",6377563.396,299.3249646]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    val prj =
      s"""PROJCS["British_National_Grid",$osgbGeogcs,PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["False_Easting",400000.0],PARAMETER["False_Northing",-100000.0],""" +
        """PARAMETER["Central_Meridian",-2.0],PARAMETER["Scale_Factor",0.9996012717],""" +
        """PARAMETER["Latitude_Of_Origin",49.0],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(530000.0, 180000.0),   // London-ish
      point(251000.25, 665000.5),  // Edinburgh-ish
      poly(3, Seq(Seq((91500.0, 11250.5), (400000.0, -100000.0), (655000.0, 1200000.0))))),
      (91500.0, -100000.0, 655000.0, 1200000.0))
    compare(shp, idDbf(3), Some(prj))
  }

  test("Potsdam .prj: 3-parameter datum shift (Bessel Gauss-Krüger), byte-identically") {
    val dhdnGeogcs =
      """GEOGCS["GCS_Deutsches_Hauptdreiecksnetz",DATUM["D_Potsdam",""" +
        """SPHEROID["Bessel_1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    // NOTE the bundle's tmerc names are only Transverse_Mercator/tmerc —
    // PROJECTION["Gauss_Kruger"] makes the reference THROW; our gauss_kruger
    // support is a documented generosity divergence (pinned below)
    val prj =
      s"""PROJCS["DHDN_3_Degree_Gauss_Zone_4",$dhdnGeogcs,PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["False_Easting",4500000.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",12.0],PARAMETER["Scale_Factor",1.0],""" +
        """PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(
      point(4591193.0, 5819432.5),
      point(4350000.125, 5300000.0)),
      (4350000.125, 5300000.0, 4591193.0, 5819432.5))
    compare(shp, idDbf(2), Some(prj))
    // generosity divergence: we also accept the Gauss_Kruger spelling
    assert(ShpCodec.transformFor(Some(prj.replace(
      """PROJECTION["Transverse_Mercator"]""", """PROJECTION["Gauss_Kruger"]"""))).isDefined)
  }

  test("remaining proj4-WKT-mappable families reproject byte-identically (or ≤8 ulps on pow tails)") {
    // every family the bundle's WKT path maps that rounds 2–3 hadn't covered:
    // aeqd, cass, eqc, eqdc, krovak (forced Bessel + S-JTSK 3-param datum),
    // mill, moll, nzmg (NZGD49 7-param datum), poly, sinu, vandg. Fixtures
    // marked `ulp` run general-exponent pow per point (glibc sub-CR tail).
    val sjtskGeogcs =
      """GEOGCS["GCS_S_JTSK",DATUM["D_S_JTSK",""" +
        """SPHEROID["Bessel_1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    val nzGeogcs =
      """GEOGCS["GCS_New_Zealand_1949",DATUM["D_New_Zealand_1949",""" +
        """SPHEROID["International_1924",6378388.0,297.0]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    def projcs(name: String, geogcs: String, proj: String, params: (String, Double)*): String =
      s"""PROJCS["$name",$geogcs,PROJECTION["$proj"],""" +
        params.map { case (k, v) => s"""PARAMETER["$k",$v]""" }.mkString(",") +
        """,UNIT["Meter",1.0]]"""
    val cases: Seq[(String, String, Seq[(Double, Double)], Int)] = Seq(
      ("aeqd", projcs("Custom_AEQD", nad83Geogcs, "Azimuthal_Equidistant",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> -100.0, "Latitude_Of_Origin" -> 40.0),
        Seq((1234567.875, -876543.25), (-2000000.0, 1500000.5), (0.0, 100000.0)), 2),
      ("cass", projcs("Custom_Cassini", nad83Geogcs, "Cassini_Soldner",
        "False_Easting" -> 40000.0, "False_Northing" -> 30000.0,
        "Central_Meridian" -> -61.0, "Latitude_Of_Origin" -> 10.5),
        Seq((45000.25, 60000.5), (-150000.0, 280000.0), (40000.0, 30000.0),
          (120000.0, -1500000.25)), 2), // southern lat: negative tan path
      ("eqc", projcs("Custom_Plate_Carree", nad83Geogcs, "Equidistant_Cylindrical",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> 10.0, "Standard_Parallel_1" -> 30.0),
        Seq((12000000.25, 4000000.0), (-8000000.0, -3000000.5)), 0),
      ("eqdc", projcs("Custom_EqDC", nad83Geogcs, "Equidistant_Conic",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> -96.0, "Standard_Parallel_1" -> 29.5,
        "Standard_Parallel_2" -> 45.5, "Latitude_Of_Origin" -> 37.5),
        Seq((-1500000.125, 800000.0), (2000000.0, -300000.75), (0.0, 0.0)), 2),
      // SP2 = 0 is FALSY in the bundle (lat2 || lat1) → 1-parallel cone
      ("eqdc_sp2_zero", projcs("Quirk_EqDC_SP2_Zero", nad83Geogcs, "Equidistant_Conic",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> -96.0, "Standard_Parallel_1" -> 29.5,
        "Standard_Parallel_2" -> 0.0, "Latitude_Of_Origin" -> 37.5),
        Seq((-1200000.0, 700000.5), (900000.25, -200000.0)), 2),
      ("krovak", projcs("S-JTSK_Krovak_East_North", sjtskGeogcs, "Krovak",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Pseudo_Standard_Parallel_1" -> 78.5, "Scale_Factor" -> 0.9999,
        "Azimuth" -> 30.28813972222222, "Longitude_Of_Center" -> 24.83333333333333,
        "Latitude_Of_Center" -> 49.5),
        Seq((-743000.0, -1043000.0), (-533000.5, -1150000.25), (-890000.0, -980000.0)), 6),
      ("mill", projcs("Custom_Miller", nad83Geogcs, "Miller_Cylindrical",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0, "Central_Meridian" -> 0.0),
        Seq((12000000.5, 7000000.25), (-15000000.0, -9000000.0)), 0),
      ("moll", projcs("Custom_Mollweide", nad83Geogcs, "Mollweide",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0, "Central_Meridian" -> 0.0),
        Seq((8000000.125, 4000000.5), (-12000000.0, -6000000.0)), 0),
      ("nzmg", projcs("GD_1949_New_Zealand_Map_Grid", nzGeogcs, "New_Zealand_Map_Grid",
        "False_Easting" -> 2510000.0, "False_Northing" -> 6023150.0,
        "Longitude_Of_Origin" -> 173.0, "Latitude_Of_Origin" -> -41.0,
        "Central_Meridian" -> 173.0),
        Seq((2648403.5, 5989500.25), (2300000.0, 6500000.0), (2750000.125, 5430000.0)), 0),
      ("laea_npole", projcs("North_Pole_LAEA", nad83Geogcs, "Lambert_Azimuthal_Equal_Area",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> 10.0, "Latitude_Of_Origin" -> 90.0),
        Seq((500000.5, -800000.25), (-2000000.0, 1500000.0)), 0),
      ("laea_spole", projcs("South_Pole_LAEA", nad83Geogcs, "Lambert_Azimuthal_Equal_Area",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> 0.0, "Latitude_Of_Origin" -> -90.0),
        Seq((750000.0, 1200000.5), (-400000.25, -900000.0)), 0),
      ("aeqd_npole", projcs("North_Pole_AEQD", nad83Geogcs, "Azimuthal_Equidistant",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> 0.0, "Latitude_Of_Origin" -> 90.0),
        Seq((1000000.5, -2000000.25), (-1500000.0, 800000.0)), 0),
      ("aeqd_spole", projcs("South_Pole_AEQD", nad83Geogcs, "Azimuthal_Equidistant",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> 140.0, "Latitude_Of_Origin" -> -90.0),
        Seq((900000.0, 1100000.125), (-600000.5, -1300000.0)), 0),
      ("poly", projcs("Custom_Polyconic", nad83Geogcs, "Polyconic",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0,
        "Central_Meridian" -> -54.0, "Latitude_Of_Origin" -> 0.0),
        Seq((500000.5, -2000000.25), (-1800000.0, 1500000.0), (100000.0, 5000000.0)), 2),
      ("sinu", projcs("Custom_Sinusoidal", nad83Geogcs, "Sinusoidal",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0, "Central_Meridian" -> 0.0),
        Seq((9000000.25, 3000000.5), (-11000000.0, -5500000.0)), 0),
      ("vandg", projcs("Custom_VanDerGrinten", nad83Geogcs, "Van_der_Grinten_I",
        "False_Easting" -> 0.0, "False_Northing" -> 0.0, "Central_Meridian" -> 0.0),
        Seq((10000000.5, 6000000.25), (-14000000.0, -8000000.0)), 0))
    cases.foreach { case (tag, prj, pts, ulps) =>
      val shp = shpFile(pts.map { case (x, y) => point(x, y) },
        (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max))
      val dbf = idDbf(pts.length)
      try {
        if (ulps == 0) compare(shp, dbf, Some(prj))
        else compareUlp(shp, dbf, prj, maxUlpDiffs = ulps)
      } catch {
        case e: Throwable =>
          throw new AssertionError(s"family $tag: ${e.getMessage.take(400)}", e)
      }
    }
  }

  test("fuzz: random SPHEROID datum swap through geocentric, byte parity vs proj4") {
    // arbitrary ellipsoids (datum names the bundle's table misses) exercise
    // geodetic_to_geocentric on the source ellipsoid + the 30-iteration
    // WGS84 geodetic recovery with no Helmert params. TM carries no
    // general-exponent pow → byte-exact end to end.
    val rnd = new scala.util.Random(77)
    def d3(x: Double): Double = Math.rint(x * 1000) / 1000
    (1 to 6).foreach { i =>
      val a = d3(6356000 + rnd.nextDouble() * 44000)
      val rf = d3(290 + rnd.nextDouble() * 20)
      val cm = d3(-170 + rnd.nextDouble() * 340)
      val lat0 = d3(-60 + rnd.nextDouble() * 120)
      val geogcs =
        s"""GEOGCS["GCS_Fuzz_$i",DATUM["D_Fuzz_Datum_$i",""" +
          s"""SPHEROID["Fuzz_Spheroid_$i",$a,$rf]],PRIMEM["Greenwich",0.0],""" +
          """UNIT["Degree",0.0174532925199433]]"""
      val prj =
        s"""PROJCS["Fuzz_Datum_TM_$i",$geogcs,PROJECTION["Transverse_Mercator"],""" +
          s"""PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",0.0],""" +
          s"""PARAMETER["Central_Meridian",$cm],PARAMETER["Scale_Factor",0.9996],""" +
          s"""PARAMETER["Latitude_Of_Origin",$lat0],UNIT["Meter",1.0]]"""
      val pts = (0 until 8).map { _ =>
        (500000.0 + (rnd.nextDouble() - 0.5) * 500000,
          rnd.nextDouble() * 700000)
      }
      val shp = shpFile(pts.map { case (x, y) => point(x, y) },
        (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max))
      try compare(shp, idDbf(8), Some(prj))
      catch {
        case e: Throwable =>
          throw new AssertionError(s"datum fuzz $i a=$a rf=$rf cm=$cm lat0=$lat0: ${e.getMessage.take(300)}", e)
      }
    }
  }

  test("GEOGCS-root .prj: datum IGNORED by the bundle, D2R·R2D wobble preserved") {
    // the bundle's wkt mapper reads a.GEOGCS.DATUM — absent for a ROOT
    // GEOGCS — so a lat/lon shapefile's datum silently degrades to WGS84
    // and the only surviving transform is the longlat D2R then R2D round
    // trip, which perturbs the last ulp of some coordinates
    // (121.5654 → 121.56540000000003). Verified live; pinned byte-for-byte.
    val nad27Geo =
      """GEOGCS["GCS_North_American_1927",DATUM["D_North_American_1927",""" +
        """SPHEROID["Clarke_1866",6378206.4,294.9786982]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    val shp = shpFile(Seq(
      point(121.5654, 25.033),   // lat wobbles: 25.033000000000005
      point(-98.5, 39.25),       // exact through the round trip
      poly(3, Seq(Seq((-0.1278, 51.5074), (2.3522, 48.8566), (13.405, 52.52))))),
      (-98.5, 25.033, 121.5654, 52.52))
    compare(shp, idDbf(3), Some(nad27Geo))
    val ours = ShpCodec.shapefile2GeojsonString(
      ShpCodec.ShapeInput(shp, idDbf(3), Some(nad27Geo)))
    assert(ours.contains("25.033000000000005"), s"wobble missing: ${ours.take(160)}")
  }

  test("Hotine Oblique Mercator .prj throws loudly (the live bundle emits NaN for it)") {
    // the bundle's WKT path never maps PARAMETER["Azimuth"] to alpha (its
    // mapping list has ["alpha","azimuth"] but the parsed key is "Azimuth"),
    // so omerc init leaves long0/alpha NaN and the reference's own output is
    // NaN — verified against the live bundle. A loud error beats NaN parity.
    val prj =
      s"""PROJCS["NAD_1983_Michigan_GeoRef_Meters",$nad83Geogcs,""" +
        """PROJECTION["Hotine_Oblique_Mercator_Azimuth_Natural_Origin"],""" +
        """PARAMETER["False_Easting",2546731.496],PARAMETER["False_Northing",-4354009.816],""" +
        """PARAMETER["Scale_Factor",0.9996],PARAMETER["Azimuth",337.25556],""" +
        """PARAMETER["Longitude_Of_Center",-86.0],PARAMETER["Latitude_Of_Center",45.30916666666666],""" +
        """UNIT["Meter",1.0]]"""
    val e = intercept[UnsupportedOperationException] {
      ShpCodec.transformFor(Some(prj))
    }
    assert(e.getMessage.contains("unsupported PROJECTION"))
  }

  test("WGS84-datum PROJCS divergence is pinned: we reproject, the reference does not") {
    // the reference's identity regex /GCS_WGS_1984|WGS84/ matches INSIDE a
    // PROJCS GEOGCS, so it emits raw projected meters as degrees for
    // WGS84-datum UTM/State-Plane files; we reproject (documented
    // intentional divergence — ShpCodec.transformFor)
    val wgsGeogcs =
      """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",""" +
        """SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],""" +
        """UNIT["Degree",0.0174532925199433]]"""
    val prj =
      s"""PROJCS["WGS_1984_UTM_Zone_17N",$wgsGeogcs,PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",0.0],""" +
        """PARAMETER["Central_Meridian",-81.0],PARAMETER["Scale_Factor",0.9996],""" +
        """PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""
    val shp = shpFile(Seq(point(500000.0, 4649776.22482)), (500000.0, 4649776.22482, 500000.0, 4649776.22482))
    val dbf = idDbf(1)
    val ours = ShpCodec.shapefile2GeojsonString(ShpCodec.ShapeInput(shp, dbf, Some(prj)))
    val ref = RefOracle.call("shp2geojson",
      "shpB64" -> JStr(b64(shp)), "dbfB64" -> JStr(b64(dbf)), "prj" -> JStr(prj))
    assert(ours != ref, "divergence expected: we reproject, reference takes identity")
    assert(ref.contains("4649776.22482"), "reference should emit the raw projected meters")
    assert(ours.contains("\"coordinates\":[-81,"), "we should emit reprojected degrees (cm, ~42N)")
    assert(ours.contains(",42.0") || ours.contains(",41.9"), s"expected ~42N, got: ${ours.take(200)}")
  }
}

class KmzSpec extends AnyFunSuite {
  test("kmz2Geojsons matches reference byte-for-byte (live jszip + promise barrier)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val kml1 = """<kml><Document><Style id="s"><IconStyle><Icon><href>icons/pin.png</href></Icon></IconStyle></Style><Placemark><name>a</name><styleUrl>#s</styleUrl><Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>"""
    val kml2 = """<kml><Document><Placemark><name>b</name><LineString><coordinates>1,2 3,4</coordinates></LineString></Placemark></Document></kml>"""
    val png = graft.sources.ImageTable.encode(graft.sources.ImageTable.renderPattern(5, 8, 8), "png")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, bytes: Array[Byte]): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(bytes); z.closeEntry()
    }
    put("doc.kml", kml1.getBytes("UTF-8"))
    put("more.kml", kml2.getBytes("UTF-8"))
    put("icons/pin.png", png)
    put("notes.txt", "ignored".getBytes("UTF-8"))
    z.close()
    val kmz = bos.toByteArray
    val ours = KmzCodec.kmz2Geojsons(kmz).map(_.render).mkString("[", ",", "]")
    val ref = RefOracle.call("kmz2geojsons",
      "kmzB64" -> JStr(java.util.Base64.getEncoder.encodeToString(kmz)))
    assert(ours == ref)
    assert(ours.contains("data:image/png;base64,"))
  }

  test("kmz: kml entries + icon data-URI rewrite (pure Scala; zip semantics)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val kml = """<kml><Document><Style id="s"><IconStyle><Icon><href>icons/pin.png</href></Icon></IconStyle></Style><Placemark><styleUrl>#s</styleUrl><Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>"""
    val png = graft.sources.ImageTable.encode(graft.sources.ImageTable.renderPattern(1, 8, 8), "png")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("doc.kml")); z.write(kml.getBytes("UTF-8")); z.closeEntry()
    z.putNextEntry(new ZipEntry("icons/pin.png")); z.write(png); z.closeEntry()
    z.putNextEntry(new ZipEntry("readme.txt")); z.write("x".getBytes); z.closeEntry()
    z.close()
    val out = KmzCodec.kmz2Geojsons(bos.toByteArray)
    assert(out.length == 1)
    val rendered = out.head.render
    assert(rendered.contains("data:image/png;base64,"))
    assert(!rendered.contains("icons/pin.png"))
    // and equals the direct kml conversion modulo the icon rewrite
    val direct = KmlCodec.kml2GeojsonString(kml)
    val expected = direct.replace("icons/pin.png",
      "data:image/png;base64," + java.util.Base64.getEncoder.encodeToString(png))
    assert(rendered == expected)
  }
}
