package graft.functions

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen => G}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.codecs._
import graft.core._

/** The string-to-string decode chain as it stood before the codecs handed
  * their JSON tree to `geojson_features` and before `st_geomfromgeojson`
  * read a feature in one parse. Kept only here, as the differential oracle. */
object OldDecode {
  private def orNull(body: => Any): Any =
    try body catch { case t: Throwable if Str2Str.isMalformedInput(t) => null }

  /** `kml/gpx/dxf_to_geojson`, `wkt_to_geojson_gc`: the rendered string. */
  case class Codec(child: Expression, fmt: String) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = orNull {
      val s = v.asInstanceOf[UTF8String].toString
      UTF8String.fromString(fmt match {
        case "kml" => KmlCodec.kml2GeojsonString(s)
        case "gpx" => GpxCodec.gpx2GeojsonString(s)
        case "dxf" => DxfCodec.dxf2GeojsonString(s)
        case "wkt" => GeoJson.collectionToJson(Wkt.wktToFeatureCollection(s)).render
      })
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `geojson_features`: parse the collection, render each feature. */
  case class Features(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = orNull {
      Json.parse(v.asInstanceOf[UTF8String].toString) match {
        case o: JObj => o.get("features") match {
          case Some(JArr(items)) =>
            new GenericArrayData(items.map(f => UTF8String.fromString(f.render)).toArray[Any])
          case _ => null
        }
        case _ => null
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `st_geomfromgeojson`: parse whatever string the child gives. */
  case class GeomFromGeoJson(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      (try Some(GeoJson.readGeom(v.asInstanceOf[UTF8String].toString))
       catch { case _: IllegalArgumentException => None }).map(Wkb.write).orNull
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def codec(c: Column, fmt: String): Column = Bridge.column(Codec(Bridge.expression(c), fmt))
  def features(c: Column): Column = Bridge.column(Features(Bridge.expression(c)))
  def geomFromGeoJson(c: Column): Column = Bridge.column(GeomFromGeoJson(Bridge.expression(c)))
}

/** Old vs new decode chain, byte for byte, through Spark with the optimizer
  * on: `geojson_features` over a CASE WHEN format dispatch, and
  * `st_geomfromgeojson(get_json_object(f, '$.geometry'))`. */
class DecodeDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every expression of the optimized plan, as evaluation will see it. */
  private def expressionsOf(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })

  // ---------------- documents for geojson_features ----------------

  private def dxf(entities: String*): String = (Seq(
    "  0", "SECTION", "  2", "HEADER", "  9", "$ACADVER", "  1", "AC1014", "  0", "ENDSEC",
    "  0", "SECTION", "  2", "ENTITIES") ++ entities ++ Seq("  0", "ENDSEC", "  0", "EOF")).mkString("\n")

  private val dxfDocs = Seq(
    dxf("  0", "LINE", "  8", "roads", " 10", "1.5", " 20", "2.5", " 11", "3.5", " 21", "4.5",
      "  0", "TEXT", "  8", "labels", "  1", "Hello DXF", " 10", "10.25", " 20", "-3.5", " 40", "2.5"),
    dxf("  0", "ARC", "  8", "arcs", " 10", "5", " 20", "5", " 40", "3", " 50", "30", " 51", "120",
      "  0", "CIRCLE", "  8", "circles", " 10", "-2", " 20", "4", " 40", "1.5"),
    dxf("  0", "LWPOLYLINE", "  8", "poly", " 70", "1", " 10", "0", " 20", "0",
      " 10", "4", " 20", "0", " 42", "0.5", " 10", "4", " 20", "4", " 10", "0", " 20", "4"),
    "not a dxf", "")

  /** Documents shaped like the benchmark's: KML placemarks, GPX waypoints
    * and tracks, one-geometry WKT, GeoJSON collections. */
  private def benchLikeDocs(seed: Long, n: Int): Seq[(String, String)] = {
    val rnd = new Random(seed)
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    def pts(k: Int) = {
      val (cx, cy) = (-170 + rnd.nextDouble() * 340, -80 + rnd.nextDouble() * 160)
      (0 until k).map(j => (r6(cx + j * 0.01 + rnd.nextDouble() * 0.005), r6(cy + rnd.nextDouble() * 0.05)))
    }
    (0 until n).map { i =>
      val shapes = (0 until 1 + rnd.nextInt(12)).map(j => pts(if (j % 3 == 0) 1 else 2 + rnd.nextInt(30)))
      i % 4 match {
        case 0 => "kml" -> shapes.zipWithIndex.map { case (s, j) =>
          val c = s.map { case (x, y) => s"$x,$y" }.mkString(" ")
          val g = if (s.size == 1) s"<Point><coordinates>$c</coordinates></Point>"
            else if (j % 2 == 0) s"<LineString><coordinates>$c</coordinates></LineString>"
            else s"<Polygon><outerBoundaryIs><LinearRing><coordinates>$c ${s.head._1},${s.head._2}</coordinates></LinearRing></outerBoundaryIs></Polygon>"
          s"<Placemark><name>f$j</name>$g</Placemark>"
        }.mkString("""<?xml version="1.0"?><kml><Document>""", "", "</Document></kml>")
        case 1 => "gpx" -> shapes.zipWithIndex.map { case (s, j) =>
          if (s.size == 1) s"""<wpt lat="${s.head._2}" lon="${s.head._1}"><name>w$j</name></wpt>"""
          else s.map { case (x, y) => s"""<trkpt lat="$y" lon="$x"></trkpt>""" }
            .mkString(s"<trk><name>t$j</name><trkseg>", "", "</trkseg></trk>")
        }.mkString("""<gpx version="1.1">""", "", "</gpx>")
        case 2 => "wkt" -> (shapes.head match {
          case s if s.size == 1 => s"POINT (${s.head._1} ${s.head._2})"
          case s => s.map { case (x, y) => s"$x $y" }.mkString("LINESTRING (", ", ", ")")
        })
        case _ => "geojson" -> shapes.zipWithIndex.map { case (s, j) =>
          val g = if (s.size == 1) s"""{"type":"Point","coordinates":[${s.head._1},${s.head._2}]}"""
            else s.map { case (x, y) => s"[$x,$y]" }.mkString("""{"type":"LineString","coordinates":[""", ",", "]}")
          s"""{"type":"Feature","properties":{"name":"f$j"},"geometry":$g}"""
        }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      }
    }
  }

  /** Edge cases: malformed documents of each format, lone surrogates from
    * XML character references, and GPX names nested near `Json.MaxDepth`. */
  private val edgeDocs: Seq[(String, String)] = {
    def deepName(d: Int) =
      s"""<gpx><wpt lat="1" lon="2"><name>${"<a>" * d}x${"</a>" * d}</name></wpt></gpx>"""
    Seq("kml" -> ("<kml><Document><Placemark><name>&#xD800;&#xDC00;&#xDFFF;x</name>" +
        "<Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>"),
      "kml" -> "<kml><Document><Placemark>", "kml" -> "", "kml" -> "plain text",
      "gpx" -> """<gpx><wpt lat="NaN" lon="1e999"><name>&#55296;</name></wpt></gpx>""",
      "gpx" -> "<gpx><wpt", "gpx" -> deepName(990), "gpx" -> deepName(995),
      "gpx" -> deepName(996), "gpx" -> deepName(997), "gpx" -> deepName(1200),
      "wkt" -> "POINT (1", "wkt" -> "MULTIPOINT ((1 2))", "wkt" -> "POINT (1e400 -0)",
      "geojson" -> """{"type":"FeatureCollection","features":[{"a":1e400,"b":-0,"c":"\ud800"}]}""",
      "geojson" -> """{"features":7}""", "geojson" -> "[1,2]", "geojson" -> "{",
      "geojson" -> ("""{"type":"FeatureCollection","features":[""" + "[" * 1200 + "]" * 1200 + "]}"),
      "other" -> "never decoded")
  }

  private lazy val corpus: Seq[(String, String)] =
    FuzzCorpus.kmlDocs.map("kml" -> _) ++ FuzzCorpus.compositionKmls.map("kml" -> _) ++
      FuzzCorpus.gpxDocs.map("gpx" -> _) ++ FuzzCorpus.geojsonDocs.map("geojson" -> _) ++
      new KmlParitySpec().kmlDocs.map("kml" -> _) ++ new KmlParitySpec().geojsons.map("geojson" -> _) ++
      new GpxParitySpec().gpxDocs.map("gpx" -> _) ++ new GpxParitySpec().geojsons.map("geojson" -> _) ++
      new WktParitySpec().cases.map("wkt" -> _) ++ new XmlParitySpec().docs.map("kml" -> _) ++
      dxfDocs.map("dxf" -> _) ++ benchLikeDocs(101, 160) ++ edgeDocs

  private def dispatch(decode: (Column, String) => Column): Column = {
    val (fmt, text) = (col("fmt"), col("text"))
    Seq("kml", "gpx", "wkt", "dxf").foldLeft(null: Column) { (acc, f) =>
      if (acc == null) when(fmt === f, decode(text, f)) else acc.when(fmt === f, decode(text, f))
    }.when(fmt === "geojson", text)
  }

  private def newCodec(c: Column, fmt: String): Column = fmt match {
    case "kml" => codecs.kmlToGeojson(c)
    case "gpx" => codecs.gpxToGeojson(c)
    case "wkt" => codecs.wktToGeojsonGc(c)
    case "dxf" => codecs.dxfToGeojson(c)
  }

  /** The codecs whose tree `geojson_features` takes in the CASE WHEN. */
  private def treeFed(df: DataFrame): Set[String] = expressionsOf(df).collect {
    case GeojsonFeatures(c: CaseWhen) => c.branches.map(_._2).collect { case t: TreeCodec => t.prettyName }
  }.flatten.toSet

  private def assertSameFeatures(df: DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.length == corpus.size)
    val mismatched = rows.filter(r => r.get(1) != r.get(2))
    assert(mismatched.isEmpty, mismatched.take(3).map(r => corpus(r.getInt(0))).mkString("\n"))
    // the corpus reaches both outcomes
    assert(rows.count(_.isNullAt(1)) >= 10 && rows.count(!_.isNullAt(1)) >= 300)
  }

  private lazy val docs =
    corpus.zipWithIndex.map { case ((f, t), i) => (i, f, t) }.toDF("id", "fmt", "text").repartition(4)

  test("geojson_features over a CASE WHEN of codecs == the string chain (Column API)") {
    val df = docs.select(col("id"),
      codecs.geojsonFeatures(dispatch(newCodec)).as("new"),
      OldDecode.features(dispatch(OldDecode.codec)).as("old"))
    // every codec branch takes the tree path
    assert(treeFed(df) == Set("kml_to_geojson", "gpx_to_geojson", "wkt_to_geojson_gc", "dxf_to_geojson"))
    assertSameFeatures(df)
  }

  test("geojson_features over a CASE WHEN of codecs == the string chain (SQL)") {
    graft.EntryQueries.ensureRegistered(spark)
    docs.createOrReplaceTempView("decode_docs")
    val df = spark.sql(
      """SELECT id, geojson_features(CASE WHEN fmt = 'kml' THEN kml_to_geojson(text)
        |  WHEN fmt = 'gpx' THEN gpx_to_geojson(text) WHEN fmt = 'wkt' THEN wkt_to_geojson_gc(text)
        |  WHEN fmt = 'dxf' THEN dxf_to_geojson(text) WHEN fmt = 'geojson' THEN text END) AS new
        |FROM decode_docs""".stripMargin)
      .join(docs.select(col("id"), OldDecode.features(dispatch(OldDecode.codec)).as("old")), "id")
    assert(treeFed(df).size == 4)
    assertSameFeatures(df)
  }

  // ---------------- features for st_geomfromgeojson ----------------

  private val ws = G.frequency(6 -> "", 2 -> " ", 1 -> "\n\t", 1 -> " \r\n ")

  private val number: G[String] = G.frequency(
    100 -> G.choose(-180.0, 180.0).map(Json.num),
    30 -> G.choose(-1000, 1000).map(_.toString),
    20 -> G.choose(-1e-3, 1e-3).map(_.toString),
    3 -> G.oneOf("-0", "-0.0", "0", "0.0", "-0e0", "1e400", "-1e400", "1e-400", "-1e-400",
      "01", "-01", "00", "1.", "-.5", "1.e5", "1E+2", "2e-3", "1e", "-", "+1", ".5",
      "4.9e-324", "1.7976931348623157e308", "123456789012345678901234567890",
      "9007199254740993", "1" * 1000, "1" * 1001, "0." + "1" * 999))

  private val string: G[String] = G.frequency(
    40 -> G.oneOf("\"a\"", "\"name\"", "\"Point\"", "\"\"", "\"é😀\""),
    4 -> G.oneOf("\"a\\nb\\t\\\"\\\\\\/\"", "\"\\u00e9\"", "\"\\uD83D\\uDE00\"", "\"\\ud800\"",
      "\"\\udc00x\"", "\"\\u+041\"", "\"\\u-041\"", "\"\\u004\"", "\"\\x\"", "\"\\'\"",
      "\"raw\u0001ctl\"", "'single'", "\"unterminated", "\"\\u0000\""),
    1 -> G.const("\"" + "s" * 50001 + "\""))

  private val typeName = G.frequency(12 -> G.oneOf("Point", "LineString", "MultiPoint",
    "Polygon", "MultiLineString", "MultiPolygon"), 1 -> G.oneOf("Bogus", "point"))

  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  private val pos: G[String] = for {
    x <- number; y <- number; z <- G.frequency(4 -> Nil, 1 -> List("7"))
    sp <- ws
  } yield arr(Seq(x, sp + y) ++ z)
  private def list(g: G[String]): G[String] = G.choose(1, 4).flatMap(n => G.listOfN(n, g)).map(arr)

  private def coordsFor(t: String): G[String] = t match {
    case "Point" | "point" | "Bogus" => pos
    case "LineString" | "MultiPoint" => list(pos)
    case "Polygon" | "MultiLineString" => list(list(pos))
    case _ => list(list(list(pos)))
  }

  /** A geometry object: members in random order, sometimes an escaped key,
    * an extra member, a deeply nested coordinate array, or a collection. */
  private def geometry(depth: Int): G[String] = for {
    t <- typeName
    coords <- G.frequency(20 -> coordsFor(t),
      1 -> G.oneOf(996, 997, 998, 999).map(d => "[" * d + "]" * d), 1 -> G.const("7"))
    typeKey <- G.frequency(9 -> "\"type\"", 1 -> "\"t\\u0079pe\"")
    extra <- G.frequency(6 -> G.const(List.empty[String]), 1 -> G.const(List("\"crs\":null")),
      1 -> string.map(s => List("\"name\":" + s)), 1 -> number.map(n => List("\"m\":" + n)))
    collection <- if (depth > 0) G.frequency(8 -> G.const(None),
      1 -> list(geometry(depth - 1)).map(gs => Some(s"""{"type":"GeometryCollection","geometries":$gs}""")))
      else G.const(None)
    members <- G.pick(2 + extra.size, Seq(s"$typeKey:\"$t\"", s"\"coordinates\":$coords") ++ extra)
    sp <- ws
  } yield collection.getOrElse(members.mkString("{" + sp, "," + sp, sp + "}"))

  private val geometryValue: G[String] = G.frequency(
    20 -> geometry(2),
    1 -> G.const("null"),
    1 -> geometry(0).map(g => Json.escape(g)),
    1 -> G.oneOf("7", "[1,2]", "true", "\"Point\"", "{}"))

  private val property: G[String] = for {
    k <- string; v <- G.frequency(8 -> number, 8 -> string, 3 -> G.oneOf("true", "null", "[1,{}]"),
      1 -> G.oneOf(997, 998, 999, 1000, 1200).map(d => "[" * d + "]" * d))
  } yield s"$k:$v"

  /** A feature document: its members in random order, sometimes two
    * `geometry` members, a non-object root, or content after the root. */
  private val feature: G[String] = for {
    props <- G.choose(0, 3).flatMap(n => G.listOfN(n, property))
    geoms <- G.frequency(10 -> G.listOfN(1, geometryValue), 2 -> G.listOfN(2, geometryValue),
      1 -> G.const(Nil))
    geomKey <- G.frequency(9 -> "\"geometry\"", 1 -> "\"geo\\u006detry\"")
    members <- G.pick(2 + geoms.size, Seq("\"type\":\"Feature\"", props.mkString("\"properties\":{", ",", "}")) ++
      geoms.map(g => s"$geomKey:$g"))
    lead <- ws
    sp <- ws
    trail <- G.frequency(12 -> G.const(""), 1 -> G.oneOf("x", "{}", ",", " 1"))
    root <- G.frequency(30 -> G.const(None),
      1 -> G.oneOf("null", "", "[]", "{", "7", "\"geometry\"").map(Some(_)),
      1 -> geometry(0).map(g => Some(s"[{\"geometry\":$g}]")))
  } yield root.getOrElse(lead + members.mkString("{" + sp, "," + sp, sp + "}") + trail)

  /** Hand-written cases at the edge of the one-parse set; `%u` stands for
    * the backslash-u of a JSON unicode escape. */
  private val fixedFeatures: Seq[String] = {
    def pt(c: String, extra: String = "") = s"""{"type":"Feature","geometry":{"type":"Point","coordinates":$c$extra}}"""
    Seq(pt("[1,2]"), pt("[-0,1]"), pt("[-0.0,1]"), pt("[1e400,1]"), pt("[1e-400,-1e-400]"), pt("[01,1]"),
      pt("[1.,1]"), pt("[-.5,1]"), pt("[1.e5,1]"), pt("[1E+2,2e-3]"), pt("[" + "9" * 400 + ",1]"),
      pt("[1,2]", ""","name":"%ud800""""), pt("[1,2]", ""","n%udc00":1"""),
      pt("[1,2]", ""","name":"%ud83d%ude00""""), pt("[1,2]", ""","name":"%u+041""""),
      """{"geometry":{"type":"Point%ud800","coordinates":[1,2]}}""",
      """{"geometry":null,"geometry":{"type":"Point","coordinates":[1,2]}}""",
      """{"geometry":{"type":"Point","coordinates":[1,2]},"geometry":{"type":"Point","coordinates":[3,4]}}""",
      """{"geometry":{"type":"Point","coordinates":[1,2]}} x""", """{"geometry":{"type":"Point","coordinates":[1,2]}}{""",
      """{"geometry":"{\"type\":\"Point\",\"coordinates\":[1,2]}"}""", """{"geometry":[1,2]}""",
      """ {"geometry" : { "type" : "Point" , "coordinates" : [ 1 , 2 ] } } """,
      """{"geo%u006detry":{"t%u0079pe":"Point","coordinates":[1,2]}}""",
      """{'geometry':{"type":"Point","coordinates":[1,2]}}""",
      """{"a":"raw%u0001","geometry":{"type":"Point","coordinates":[1,2]}}""",
      """{"geometry":{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]}]}}""",
      """[{"geometry":{"type":"Point","coordinates":[1,2]}}]""", "", "null", "{}")
      .map(_.replace("%u", "\\u"))
  }

  test("st_geomfromgeojson(get_json_object(f, '$.geometry')) == the two-step chain") {
    val feats = fixedFeatures ++ G.listOfN(3000, feature).pureApply(G.Parameters.default, Seed(20261019L))
    val fused = feats.count(f => StGeomFromGeoJson.geometryMember(f).isDefined)
    // both the one-parse path and the fallback are exercised
    assert(fused > 1000 && feats.size - fused > 300, s"$fused of ${feats.size} fused")
    val df = feats.zipWithIndex.toDF("f", "id").repartition(4)
    val pathCol = get_json_object(col("f"), "$.geometry")
    val out = df.select(col("id"), st.geomFromGeoJson(pathCol).as("new"),
      OldDecode.geomFromGeoJson(pathCol).as("old"))
    assert(expressionsOf(out).exists { case g: StGeomFromGeoJson => g.feature.isDefined; case _ => false })
    val rows = out.collect()
    assert(rows.length == feats.size)
    def bytes(r: Row, i: Int) = Option(r.getAs[Array[Byte]](i)).map(_.toSeq)
    val bad = rows.filter(r => bytes(r, 1) != bytes(r, 2))
    assert(bad.isEmpty, bad.take(3).map(r => feats(r.getInt(0)).take(300)).mkString("\n"))
    assert(rows.count(r => !r.isNullAt(1)) > 500 && rows.count(_.isNullAt(1)) > 300)

    feats.toDF("f").repartition(2).createOrReplaceTempView("decode_feats")
    val sqlDf = spark.sql("SELECT st_geomfromgeojson(get_json_object(f, '$.geometry')) FROM decode_feats")
    assert(expressionsOf(sqlDf).exists { case g: StGeomFromGeoJson => g.feature.isDefined; case _ => false })
  }

  test("input nested deeper than the stack gives null through both functions, not an error") {
    val deep = "[" * 200000 + "]" * 200000
    assertThrows[IllegalArgumentException](Json.parse(deep))
    val df = Seq(deep, s"""{"type":"FeatureCollection","features":[$deep]}""",
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"p":$deep}""").toDF("t")
    val got = df.select(codecs.geojsonFeatures(col("t")),
      st.geomFromGeoJson(get_json_object(col("t"), "$.geometry"))).collect()
    assert(got.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("GPX/KML names nested past Json.MaxDepth give null from gpx/kml_to_geojson, not a stack overflow") {
    def gpx(d: Int) = s"""<gpx><wpt lat="1" lon="2"><name>${"<a>" * d}x${"</a>" * d}</name></wpt></gpx>"""
    def kml(d: Int) = s"<kml><Document><Placemark><name>${"<a>" * d}x${"</a>" * d}</name>" +
      "<Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>"
    def sha(v: Any): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a name nested 996 deep makes a tree exactly Json.MaxDepth deep, which
    // prints byte for byte as the unbounded printer printed it (digests of
    // its output)
    Seq(GpxCodec.gpx2Geojson(gpx(996)), KmlCodec.kml2Geojson(kml(996))).foreach { t =>
      assert(Json.deeperThan(t, Json.MaxDepth - 1) && !Json.deeperThan(t, Json.MaxDepth))
    }
    assert(sha(GpxToGeojson(Literal(gpx(996))).eval()) ==
      "29885d4fbba1901831221a0bf4bf5172672b97055349b91fa27baa51fe7fae0b")
    assert(sha(KmlToGeojson(Literal(kml(996))).eval()) ==
      "387d2448e0eb1bcee49d4e1036e31a59a0521aa7c685c3b9c98144e43c654182")
    for (d <- Seq(997, 2000, 20000, 200000)) {
      assert(GpxToGeojson(Literal(gpx(d))).eval() == null, s"gpx name nested $d deep")
      assert(KmlToGeojson(Literal(kml(d))).eval() == null, s"kml name nested $d deep")
    }
  }
}
