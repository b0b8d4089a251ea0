package gcbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.core.{GPolygon, Geom, Kernels, Pt}

/** Seeded input generators. The same seed gives the same inputs; sizes and
  * size distributions come from fixed quantile schedules, so a different
  * seed moves shapes, positions and text but keeps the amount of work per
  * iteration close to constant. */
object Gen {

  /** Polygon with an integer id; `geom` is what the engine sees (as WKB). */
  final case class Poly(id: Int, name: String, geom: Geom)

  /** Row ids whose phash-derived points the pip workload joins. Offsets are
    * multiples of 30, so `phashFor`'s 30% hot-spot share and its three-way
    * split stay exact at every seed. */
  def pointBase(seed: Long): Long = ((graft.core.Kernels.mix64(seed) >>> 24) % 100000000L) * 30L

  /** Seeded irregular polygons, sizes log-spaced from ~0.5° (under one
    * res-7 cell) to ~40°, vertex counts log-spaced from 8 to ~1000, placed
    * clear of the hot spots. Shapes
    * cycle through a noisy blob, a deep star (concave) and a thin
    * diagonal strip, whose bbox cover is much larger than its true cover. */
  def polygons(seed: Long, n: Int, firstId: Int): Vector[Poly] = {
    val rnd = new Random(seed * 7919L + 17L)
    (0 until n).map { i =>
      val q = if (n == 1) 0.0 else i.toDouble / (n - 1)
      val size = 0.5 * math.pow(80.0, q)                 // 0.5° .. 40°
      val verts = math.round(8.0 * math.pow(125.0, (i * 37 % n).toDouble / n)).toInt.max(8)
      // Every seeded polygon stays at least one res-7 cell (< 3°) clear of
      // the three hot spots, which the fixed district polygons cover. One
      // landing on a hot spot adds 10% of the points to its exact tests, so
      // the work per iteration would change with the seed (measured: 1.8x
      // between two seeds).
      val reach = 0.55 * size + 3.0
      def clear(x: Double, y: Double): Boolean = (0 until 3).forall { h =>
        math.abs(x - Kernels.hotspotLon(h)) > reach || math.abs(y - Kernels.hotspotLat(h)) > reach
      }
      var cx, cy = 0.0
      var placed = false
      while (!placed) {
        cx = -175.0 + size / 2 + rnd.nextDouble() * (350.0 - size)
        cy = -80.0 + size / 2 + rnd.nextDouble() * (160.0 - size).max(0.0)
        placed = clear(cx, cy)
      }
      val rot = rnd.nextDouble() * math.Pi
      val ring: Vector[Pt] = i % 3 match {
        case 0 => blob(rnd, cx, cy, size / 2, verts, rot)
        case 1 => star(rnd, cx, cy, size / 2, verts, rot)
        case _ => strip(rnd, cx, cy, size, verts)
      }
      Poly(firstId + i, s"seeded_$i", GPolygon(Vector(ring :+ ring.head)))
    }.toVector
  }

  private def clampPt(x: Double, y: Double): Pt =
    Pt(math.max(-179.9, math.min(179.9, x)), math.max(-84.9, math.min(84.9, y)))

  private def blob(rnd: Random, cx: Double, cy: Double, r: Double, n: Int, rot: Double): Vector[Pt] =
    (0 until n).map { k =>
      val a = rot + 2 * math.Pi * k / n
      val rr = r * (0.55 + 0.45 * rnd.nextDouble())
      clampPt(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }.toVector

  private def star(rnd: Random, cx: Double, cy: Double, r: Double, n: Int, rot: Double): Vector[Pt] =
    (0 until n).map { k =>
      val a = rot + 2 * math.Pi * k / n
      val rr = if (k % 2 == 0) r * (0.85 + 0.15 * rnd.nextDouble()) else r * (0.15 + 0.2 * rnd.nextDouble())
      clampPt(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }.toVector

  /** Thin band along a diagonal: `n` vertices split between its two long
    * sides, width 3% of its length. */
  private def strip(rnd: Random, cx: Double, cy: Double, len: Double, n: Int): Vector[Pt] = {
    val dir = if (rnd.nextBoolean()) 1.0 else -1.0
    val ang = dir * (math.Pi / 6 + rnd.nextDouble() * math.Pi / 6)
    val (ux, uy) = (math.cos(ang), math.sin(ang))
    val (vx, vy) = (-uy, ux)
    val w = 0.015 * len
    val half = math.max(2, n / 2)
    def side(off: Double, rev: Boolean): Seq[Pt] = {
      val ks = if (rev) (half - 1) to 0 by -1 else 0 until half
      ks.map { k =>
        val t = -len / 2 + len * k / (half - 1)
        val wob = w * 0.3 * math.sin(k * 0.7)
        clampPt(cx + t * ux + (off + wob) * vx, cy + t * uy + (off + wob) * vy)
      }
    }
    (side(-w, rev = false) ++ side(w, rev = true)).toVector
  }

  // ------------------------------------------------------------------
  // near-duplicate corpus
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String, quality: Long)

  /** A planted near-duplicate cluster: clique members are independent light
    * edits of one base text; chain members are successive edits, so far
    * ends of a chain are not similar and closure needs several passes. */
  final case class Cluster(ids: Vector[Long], chain: Boolean)

  final case class Corpus(docs: Vector[Doc], clusters: Vector[Cluster])

  /** `nDocs` documents: heavy-tailed planted clusters plus unique
    * background documents. The largest cluster (`maxCluster` members) holds
    * copies that differ only in their last character, so nearly all of it
    * lands in one LSH band bucket: above 512 members that bucket takes the
    * engine's chunked pair branch. The other clusters are cliques of light
    * edits of one base text, or (every fourth) chains of up to 8
    * successive edits. */
  def corpus(seed: Long, nDocs: Int, maxCluster: Int): Corpus = {
    val rnd = new Random(seed * 104729L + 5L)
    val vocab = Array.fill(6000) {
      val len = 3 + rnd.nextInt(6)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    def edit(ws: Array[String], k: Int): Array[String] = {
      val out = ws.clone()
      var j = 0
      while (j < k) { out(rnd.nextInt(out.length)) = vocab(rnd.nextInt(vocab.length)); j += 1 }
      out
    }
    // cluster sizes: Zipf-like quantile schedule, fixed for a given size
    val sizes = ArrayBuffer.empty[Int]
    var k = 0
    var planted = 0
    while (planted < nDocs * 2 / 5) {
      val s = math.max(2, (maxCluster / math.pow(k + 1, 1.6)).toInt)
      sizes += s; planted += s; k += 1
    }
    val docs = ArrayBuffer.empty[Doc]
    val clusters = ArrayBuffer.empty[Cluster]
    var next = 0L
    def add(text: String): Long = {
      val id = next; next += 1
      docs += Doc(id, text, (mix(seed, id) >>> 44) & 0xFFFFFL)
      id
    }
    sizes.zipWithIndex.foreach { case (s, ci) =>
      val chain = ci % 4 == 1
      val base = words(36 + rnd.nextInt(8))
      val ids =
        if (ci == 0) {
          val t = base.mkString(" ")
          (0 until s).map(_ => add(t.dropRight(1) + ('a' + rnd.nextInt(26)).toChar)).toVector
        } else if (!chain) (0 until s).map(_ => add(edit(base, 2).mkString(" "))).toVector
        else {
          var cur = base
          (0 until math.min(s, 8)).map { _ => cur = edit(cur, 2); add(cur.mkString(" ")) }.toVector
        }
      clusters += Cluster(ids, chain)
    }
    while (next < nDocs) add(words(36 + rnd.nextInt(8)).mkString(" "))
    // shuffle ids so clusters are not contiguous in the input
    val perm = new Random(seed + 99L).shuffle((0L until next).toVector)
    val remapped = docs.map(d => d.copy(id = perm(d.id.toInt)))
    Corpus(remapped.sortBy(_.id).toVector,
      clusters.map(c => c.copy(ids = c.ids.map(i => perm(i.toInt)))).toVector)
  }

  def mix(seed: Long, i: Long): Long = graft.core.Kernels.mix64(seed * 0x9E3779B97F4A7C15L + i)

  // ------------------------------------------------------------------
  // geo documents for format conversion
  // ------------------------------------------------------------------

  /** One generated feature: its kind and the bbox of its coordinates (the
    * centroid the engine computes must fall inside it). */
  final case class Feat(kind: String, minx: Double, miny: Double, maxx: Double, maxy: Double)
  final case class GeoDoc(id: Long, fmt: String, text: String, feats: Vector[Feat])

  private val fmts = Vector("kml", "gpx", "wkt", "geojson")

  /** `nDocs` documents cycling KML, GPX, WKT and GeoJSON. Feature counts per
    * document follow a heavy-tailed schedule from 1 to `maxFeats` (WKT holds
    * one geometry per document); features mix points, lines and polygons
    * with holes (GPX has no polygons: waypoints and tracks). */
  def geoDocs(seed: Long, nDocs: Int, maxFeats: Int): Vector[GeoDoc] = {
    val rnd = new Random(seed * 15485863L + 3L)
    (0 until nDocs).map { i =>
      val fmt = fmts(i % 4)
      val rank = (i / 4 * 2654435761L % math.max(1, nDocs / 4)).toInt
      val nf = if (fmt == "wkt") 1
        else math.max(1, (maxFeats / math.pow(rank + 1, 1.1)).toInt)
      val made = (0 until nf).map(j => shape(rnd, if (fmt == "gpx") j % 2 else j % 3))
      // GPX emits waypoints before tracks, so generate them in that order
      val shapes = if (fmt == "gpx") made.sortBy(_._1 != "Point") else made
      val feats = shapes.map(s => featOf(s._1, s._2))
      val text = fmt match {
        case "kml" => kml(shapes)
        case "gpx" => gpx(shapes)
        case "wkt" => wkt(shapes.head)
        case _ => geojson(shapes)
      }
      GeoDoc(i.toLong, fmt, text, feats.toVector)
    }.toVector
  }

  /** kind 0 = point, 1 = line, 2 = polygon with a hole. Rings: outer then
    * inner. Coordinates are rounded to 1e-6 so every format carries them
    * exactly. */
  private def shape(rnd: Random, kind: Int): (String, Vector[Vector[(Double, Double)]]) = {
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val cx = -170.0 + rnd.nextDouble() * 340.0
    val cy = -80.0 + rnd.nextDouble() * 160.0
    kind match {
      case 0 => ("Point", Vector(Vector((r6(cx), r6(cy)))))
      case 1 =>
        val n = 2 + rnd.nextInt(30)
        ("LineString", Vector((0 until n).map(k =>
          (r6(cx + k * 0.01 + rnd.nextDouble() * 0.005), r6(cy + rnd.nextDouble() * 0.05))).toVector))
      case _ =>
        val n = 4 + rnd.nextInt(40)
        val r = 0.05 + rnd.nextDouble() * 0.5
        def ring(rr: Double, reverse: Boolean) = {
          val pts = (0 until n).map { k =>
            val a = 2 * math.Pi * k / n
            (r6(cx + rr * math.cos(a)), r6(cy + rr * math.sin(a)))
          }
          val o = if (reverse) pts.reverse else pts
          (o :+ o.head).toVector
        }
        ("Polygon", Vector(ring(r, reverse = false), ring(r * 0.3, reverse = true)))
    }
  }

  private def featOf(kind: String, rings: Vector[Vector[(Double, Double)]]): Feat = {
    val pts = rings.flatten
    Feat(kind, pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
  }

  private def c(p: (Double, Double)) = s"${p._1},${p._2}"

  private def kml(shapes: Seq[(String, Vector[Vector[(Double, Double)]])]): String = {
    val sb = new StringBuilder("""<?xml version="1.0" encoding="UTF-8"?><kml xmlns="http://www.opengis.net/kml/2.2"><Document>""")
    shapes.zipWithIndex.foreach { case ((kind, rings), j) =>
      sb ++= s"<Placemark><name>f$j</name>"
      kind match {
        case "Point" => sb ++= s"<Point><coordinates>${c(rings.head.head)}</coordinates></Point>"
        case "LineString" => sb ++= s"<LineString><coordinates>${rings.head.map(c).mkString(" ")}</coordinates></LineString>"
        case _ =>
          sb ++= s"<Polygon><outerBoundaryIs><LinearRing><coordinates>${rings(0).map(c).mkString(" ")}</coordinates></LinearRing></outerBoundaryIs>"
          sb ++= s"<innerBoundaryIs><LinearRing><coordinates>${rings(1).map(c).mkString(" ")}</coordinates></LinearRing></innerBoundaryIs></Polygon>"
      }
      sb ++= "</Placemark>"
    }
    sb ++= "</Document></kml>"
    sb.toString
  }

  private def gpx(shapes: Seq[(String, Vector[Vector[(Double, Double)]])]): String = {
    val sb = new StringBuilder("""<?xml version="1.0" encoding="UTF-8"?><gpx version="1.1" creator="gcbench">""")
    shapes.zipWithIndex.foreach {
      case (("Point", rings), j) =>
        val (x, y) = rings.head.head
        sb ++= s"""<wpt lat="$y" lon="$x"><name>w$j</name></wpt>"""
      case ((_, rings), j) =>
        sb ++= s"<trk><name>t$j</name><trkseg>"
        rings.head.foreach { case (x, y) => sb ++= s"""<trkpt lat="$y" lon="$x"></trkpt>""" }
        sb ++= "</trkseg></trk>"
    }
    sb ++= "</gpx>"
    sb.toString
  }

  private def wkt(shape: (String, Vector[Vector[(Double, Double)]])): String = {
    def seq(r: Vector[(Double, Double)]) = r.map(p => s"${p._1} ${p._2}").mkString(", ")
    shape match {
      case ("Point", r) => s"POINT (${r.head.head._1} ${r.head.head._2})"
      case ("LineString", r) => s"LINESTRING (${seq(r.head)})"
      case (_, r) => s"POLYGON (${r.map(x => s"(${seq(x)})").mkString(", ")})"
    }
  }

  private def geojson(shapes: Seq[(String, Vector[Vector[(Double, Double)]])]): String = {
    def arr(p: (Double, Double)) = s"[${p._1},${p._2}]"
    val fs = shapes.zipWithIndex.map { case ((kind, rings), j) =>
      val coords = kind match {
        case "Point" => arr(rings.head.head)
        case "LineString" => rings.head.map(arr).mkString("[", ",", "]")
        case _ => rings.map(_.map(arr).mkString("[", ",", "]")).mkString("[", ",", "]")
      }
      s"""{"type":"Feature","properties":{"name":"f$j"},"geometry":{"type":"$kind","coordinates":$coords}}"""
    }
    s"""{"type":"FeatureCollection","features":[${fs.mkString(",")}]}"""
  }
}
