package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.core._

/** Seeded fuzz parity: randomized documents (beyond the hand-written
  * fixtures) compared byte-for-byte against the live reference. Generators
  * avoid only the constructs where the reference itself crashes (single
  * gx:SimpleArrayData, leading-CCW shapefile rings, bare geometries inside
  * FeatureCollections for GPX).
  */
/** The fixed-seed documents of [[FuzzParitySpec]], also a corpus for other
  * specs. */
object FuzzCorpus {

  def num(rnd: Random): String = {
    val v = Math.round((rnd.nextDouble() * 360 - 180) * 1000).toDouble / 1000
    Json.num(v)
  }

  def coordPair(rnd: Random): String = s"${num(rnd)},${num(rnd)}"
  def coordList(rnd: Random, n: Int): String =
    (1 to n).map(_ => coordPair(rnd)).mkString(" ")

  def randomPlacemark(rnd: Random): String = {
    val name = if (rnd.nextBoolean()) s"<name>pm${rnd.nextInt(1000)}</name>" else ""
    val desc = if (rnd.nextInt(3) == 0) s"<description>d &amp; ${rnd.nextInt(100)}</description>" else ""
    val styleUrl = if (rnd.nextInt(3) == 0) s"<styleUrl>#s${rnd.nextInt(4)}</styleUrl>" else ""
    val geom = rnd.nextInt(5) match {
      case 0 => s"<Point><coordinates>${coordPair(rnd)}</coordinates></Point>"
      case 1 => s"<LineString><coordinates>${coordList(rnd, 2 + rnd.nextInt(4))}</coordinates></LineString>"
      case 2 =>
        val outer = coordList(rnd, 4)
        val holes = (0 until rnd.nextInt(3)).map(_ =>
          s"<innerBoundaryIs><LinearRing><coordinates>${coordList(rnd, 4)}</coordinates></LinearRing></innerBoundaryIs>").mkString
        s"<Polygon><outerBoundaryIs><LinearRing><coordinates>$outer</coordinates></LinearRing></outerBoundaryIs>$holes</Polygon>"
      case 3 =>
        val members = (1 to 2 + rnd.nextInt(2)).map(_ => rnd.nextInt(2) match {
          case 0 => s"<Point><coordinates>${coordPair(rnd)}</coordinates></Point>"
          case _ => s"<LineString><coordinates>${coordList(rnd, 3)}</coordinates></LineString>"
        }).mkString
        s"<MultiGeometry>$members</MultiGeometry>"
      case _ => "" // geometry-less placemark (→ geometry {})
    }
    s"<Placemark>$name$desc$styleUrl$geom</Placemark>"
  }

  def randomStyle(rnd: Random, id: Int): String = {
    val line = if (rnd.nextBoolean())
      s"<LineStyle><color>${"%08x".format(rnd.nextInt())}</color><width>${1 + rnd.nextInt(5)}</width></LineStyle>" else ""
    val poly = if (rnd.nextBoolean())
      s"<PolyStyle><color>${"%08x".format(rnd.nextInt())}</color><outline>${rnd.nextInt(2)}</outline></PolyStyle>" else ""
    s"""<Style id="s$id">$line$poly</Style>"""
  }

  def randomGeojsonFeature(rnd: Random): String = {
    def pos() = s"[${num(rnd)},${num(rnd)}]"
    def line(n: Int) = (1 to n).map(_ => pos()).mkString("[", ",", "]")
    val geom = rnd.nextInt(5) match {
      case 0 => s"""{"type":"Point","coordinates":${pos()}}"""
      case 1 => s"""{"type":"LineString","coordinates":${line(2 + rnd.nextInt(3))}}"""
      case 2 => s"""{"type":"Polygon","coordinates":[${line(4)}${if (rnd.nextBoolean()) "," + line(4) else ""}]}"""
      case 3 => s"""{"type":"MultiPoint","coordinates":${line(2 + rnd.nextInt(3))}}"""
      case _ => s"""{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":${pos()}},{"type":"LineString","coordinates":${line(2)}}]}"""
    }
    val style = rnd.nextInt(3) match {
      case 0 => """"style":{},"""
      case 1 => s""""style":{"color":"#${"%06x".format(rnd.nextInt(0xFFFFFF))}","opacity":${Json.num(rnd.nextInt(100) / 100.0)},"weight":${1 + rnd.nextInt(4)}},"""
      case _ => s""""style":{"stroke":1,"fillColor":"#${"%06x".format(rnd.nextInt(0xFFFFFF))}"},"""
    }
    val props = if (rnd.nextBoolean()) s"""{"name":"f${rnd.nextInt(100)}"}""" else "{}"
    s"""{"type":"Feature","properties":$props,$style"geometry":$geom}"""
  }

  /** 40 KML documents (seed 1234). */
  lazy val kmlDocs: Vector[String] = {
    val rnd = new Random(1234)
    (1 to 40).map { _ =>
      val styles = (0 until rnd.nextInt(4)).map(j => randomStyle(rnd, j)).mkString
      val pms = (1 to 1 + rnd.nextInt(5)).map(_ => randomPlacemark(rnd)).mkString
      val folders = if (rnd.nextBoolean()) s"<Folder>$pms</Folder>" else pms
      s"<kml><Document>$styles$folders</Document></kml>"
    }.toVector
  }

  /** 40 GPX documents (seed 77). */
  lazy val gpxDocs: Vector[String] = {
    val rnd = new Random(77)
    (1 to 40).map { _ =>
      val parts = (1 to 1 + rnd.nextInt(6)).map { _ =>
        rnd.nextInt(3) match {
          case 0 =>
            val extras = Seq(
              if (rnd.nextBoolean()) s"<name>w${rnd.nextInt(100)}</name>" else "",
              if (rnd.nextInt(3) == 0) s"<cmt>${rnd.nextInt(10)}</cmt>" else "",
              if (rnd.nextInt(3) == 0) "<time>2020-05-05T01:02:03Z</time>" else "").mkString
            s"""<wpt lat="${num(rnd)}" lon="${num(rnd)}">$extras</wpt>"""
          case 1 =>
            val pts = (1 to 1 + rnd.nextInt(4)).map(_ =>
              s"""<trkpt lat="${num(rnd)}" lon="${num(rnd)}"/>""").mkString
            val segs = if (rnd.nextInt(4) == 0)
              s"<trkseg>$pts</trkseg><trkseg>$pts</trkseg>" else s"<trkseg>$pts</trkseg>"
            s"<trk><name>t</name>$segs</trk>"
          case _ =>
            val pts = (1 to 1 + rnd.nextInt(4)).map(_ =>
              s"""<rtept lat="${num(rnd)}" lon="${num(rnd)}"/>""").mkString
            s"<rte>$pts</rte>"
        }
      }.mkString
      s"<gpx>$parts</gpx>"
    }.toVector
  }

  /** 40 GeoJSON FeatureCollections (seed 99). */
  lazy val geojsonDocs: Vector[String] = {
    val rnd = new Random(99)
    (1 to 40).map { _ =>
      val feats = (1 to 1 + rnd.nextInt(5)).map(_ => randomGeojsonFeature(rnd)).mkString(",")
      s"""{"type":"FeatureCollection","features":[$feats]}"""
    }.toVector
  }

  /** 15 two-placemark KML documents (seed 5150). */
  lazy val compositionKmls: Vector[String] = {
    val rnd = new Random(5150)
    (1 to 15).map(_ =>
      s"<kml><Document>${(1 to 2).map(_ => randomPlacemark(rnd)).mkString}</Document></kml>").toVector
  }
}

class FuzzParitySpec extends AnyFunSuite {
  import FuzzCorpus._

  test("fuzz: 40 random KML docs parity") {
    kmlDocs.zip(1 to 40).foreach { case (kml, i) =>
      val ours = KmlCodec.kml2GeojsonString(kml)
      val ref = RefOracle("kml2geojson", kml)
      assert(ours == ref, s"doc $i: ${kml.take(160)}")
    }
  }

  test("fuzz: 40 random GPX docs parity") {
    gpxDocs.zip(1 to 40).foreach { case (gpx, i) =>
      val ours = GpxCodec.gpx2GeojsonString(gpx)
      val ref = RefOracle("gpx2geojson", gpx)
      assert(ours == ref, s"doc $i: ${gpx.take(160)}")
    }
  }

  test("fuzz: 40 random GeoJSON docs -> KML and GPX parity") {
    geojsonDocs.zip(1 to 40).foreach { case (gj, i) =>
      assert(KmlCodec.geojson2Kml(gj) == RefOracle("geojson2kml", gj), s"kml doc $i")
      assert(GpxCodec.geojson2Gpx(gj) == RefOracle("geojson2gpx", gj), s"gpx doc $i")
    }
  }

  test("fuzz: composition kml -> geojson -> kml parity with the reference") {
    compositionKmls.zip(1 to 15).foreach { case (kml, i) =>
      val gj = KmlCodec.kml2GeojsonString(kml)
      assert(gj == RefOracle("kml2geojson", kml), s"fwd $i")
      assert(KmlCodec.geojson2Kml(gj) == RefOracle("geojson2kml", gj), s"rev $i")
    }
  }
}
