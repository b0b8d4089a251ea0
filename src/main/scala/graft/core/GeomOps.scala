package graft.core

/** Hand-written geometry kernels (from-scratch mandate): shoelace winding,
  * ray-casting point-in-polygon, planar & haversine distance. JTS is used
  * only as a test oracle, never here.
  */
object GeomOps {

  /** Twice the signed shoelace area of a ring. The reference accumulates
    * `Σ (x_i − x_{i−1}) · (y_i + y_{i−1})` per ring and classifies `≥ 0` as
    * clockwise (`/root/reference/src/ShapeFile.js:316-356`); this returns
    * that same accumulator so `signedAreaRef(ring) >= 0 ⇔ CW` matches the
    * reference bit-for-bit.
    */
  def signedAreaRef(ring: IndexedSeq[Pt]): Double = {
    var acc = 0.0
    var i = 1
    while (i < ring.length) {
      acc += (ring(i).x - ring(i - 1).x) * (ring(i).y + ring(i - 1).y)
      i += 1
    }
    acc
  }

  /** Reference semantics: accumulator ≥ 0 ⇒ clockwise (`ShapeFile.js:352-356`). */
  def isClockwise(ring: IndexedSeq[Pt]): Boolean = signedAreaRef(ring) >= 0

  /** Conventional signed area (positive = CCW). */
  def signedArea(ring: IndexedSeq[Pt]): Double = {
    var acc = 0.0
    var i = 0
    val n = ring.length
    while (i < n) {
      val a = ring(i); val b = ring((i + 1) % n)
      acc += a.x * b.y - b.x * a.y
      i += 1
    }
    acc / 2.0
  }

  /** Ray casting: is (px,py) inside the ring (boundary counts as inside for
    * horizontal-edge-crossing stability; vertices handled by the strict
    * inequality pattern). Even-odd rule.
    */
  def pointInRing(px: Double, py: Double, ring: IndexedSeq[Pt]): Boolean = {
    var inside = false
    val n = ring.length
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring(i).x; val yi = ring(i).y
      val xj = ring(j).x; val yj = ring(j).y
      val intersects = ((yi > py) != (yj > py)) &&
        (px < (xj - xi) * (py - yi) / (yj - yi) + xi)
      if (intersects) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Even-odd point-in-polygon with holes: inside shell and not inside any hole. */
  def pointInPolygon(px: Double, py: Double, rings: IndexedSeq[IndexedSeq[Pt]]): Boolean = {
    if (rings.isEmpty) return false
    if (!pointInRing(px, py, rings.head)) return false
    var i = 1
    while (i < rings.length) {
      if (pointInRing(px, py, rings(i))) return false
      i += 1
    }
    true
  }

  /** Containment for any geometry: polygonal membership; point/line geoms
    * contain nothing but exact point matches (points) — pragmatic engine rule. */
  def contains(g: Geom, px: Double, py: Double): Boolean = g match {
    case GPolygon(rs)      => pointInPolygon(px, py, rs)
    case GMultiPolygon(pp) => pp.exists(rs => pointInPolygon(px, py, rs))
    case GCollection(gs)   => gs.exists(contains(_, px, py))
    case GPoint(p)         => p.x == px && p.y == py
    case GMultiPoint(ps)   => ps.exists(p => p.x == px && p.y == py)
    case _                 => false
  }

  /** Planar squared euclidean distance — exact arithmetic (mul/add only), so
    * cross-engine deterministic; used for oracle-checked kNN ordering. */
  def sqDist(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx; val dy = ay - by
    dx * dx + dy * dy
  }

  val EarthRadiusMeters = 6371008.8

  /** Haversine great-circle distance in meters. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val φ1 = Math.toRadians(lat1); val φ2 = Math.toRadians(lat2)
    val dφ = Math.toRadians(lat2 - lat1); val dλ = Math.toRadians(lon2 - lon1)
    val a = Math.sin(dφ / 2) * Math.sin(dφ / 2) +
      Math.cos(φ1) * Math.cos(φ2) * Math.sin(dλ / 2) * Math.sin(dλ / 2)
    2 * EarthRadiusMeters * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }

  /** Planar area of a polygonal geometry (shoelace; holes subtracted,
    * multipolygon summed). Non-areal geometries → 0. */
  def area(g: Geom): Double = g match {
    case GPolygon(rs) =>
      if (rs.isEmpty) 0.0
      else Math.abs(signedArea(rs.head)) - rs.tail.map(r => Math.abs(signedArea(r))).sum
    case GMultiPolygon(pp) => pp.map(rs => area(GPolygon(rs))).sum
    case GCollection(gs)   => gs.map(area).sum
    case _                 => 0.0
  }

  /** Planar length of linear geometries (perimeter for polygons). */
  def length(g: Geom): Double = {
    def lineLen(ps: IndexedSeq[Pt]): Double = {
      var acc = 0.0
      var i = 1
      while (i < ps.length) {
        val dx = ps(i).x - ps(i - 1).x; val dy = ps(i).y - ps(i - 1).y
        acc += Math.sqrt(dx * dx + dy * dy)
        i += 1
      }
      acc
    }
    g match {
      case GLineString(ps)      => lineLen(ps)
      case GMultiLineString(ls) => ls.map(lineLen).sum
      case GPolygon(rs)         => rs.map(lineLen).sum
      case GMultiPolygon(pp)    => pp.map(rs => rs.map(lineLen).sum).sum
      case GCollection(gs)      => gs.map(length).sum
      case _                    => 0.0
    }
  }

  /** Centroid: area-weighted for polygons (JTS-compatible formula), vertex
    * mean for points/lines. NaNs for empty geometries. */
  def centroid(g: Geom): (Double, Double) = g match {
    case GPoint(p) => (p.x, p.y)
    case GMultiPoint(ps) if ps.nonEmpty =>
      (ps.map(_.x).sum / ps.length, ps.map(_.y).sum / ps.length)
    case GLineString(ps) if ps.length >= 2 =>
      // length-weighted midpoints of segments
      var sx = 0.0; var sy = 0.0; var sl = 0.0
      var i = 1
      while (i < ps.length) {
        val dx = ps(i).x - ps(i - 1).x; val dy = ps(i).y - ps(i - 1).y
        val l = Math.sqrt(dx * dx + dy * dy)
        sx += (ps(i).x + ps(i - 1).x) / 2 * l
        sy += (ps(i).y + ps(i - 1).y) / 2 * l
        sl += l
        i += 1
      }
      if (sl == 0) (ps.head.x, ps.head.y) else (sx / sl, sy / sl)
    case GPolygon(rs) if rs.nonEmpty =>
      // signed-area-weighted over shell minus holes
      var cx = 0.0; var cy = 0.0; var a = 0.0
      rs.zipWithIndex.foreach { case (ring, idx) =>
        var rx = 0.0; var ry = 0.0; var ra = 0.0
        var i = 0
        val n = ring.length
        while (i < n) {
          val p = ring(i); val q = ring((i + 1) % n)
          val cross = p.x * q.y - q.x * p.y
          ra += cross
          rx += (p.x + q.x) * cross
          ry += (p.y + q.y) * cross
          i += 1
        }
        val sign = if (idx == 0) 1.0 else -1.0
        val w = Math.abs(ra) * sign
        if (ra != 0) {
          cx += rx / (3.0 * ra) * w
          cy += ry / (3.0 * ra) * w
          a += w
        }
      }
      if (a == 0) (rs.head.head.x, rs.head.head.y) else (cx / a, cy / a)
    case GMultiPolygon(pp) if pp.nonEmpty =>
      var cx = 0.0; var cy = 0.0; var a = 0.0
      pp.foreach { rs =>
        val w = area(GPolygon(rs))
        val (x, y) = centroid(GPolygon(rs))
        cx += x * w; cy += y * w; a += w
      }
      if (a == 0) centroid(GPoint(pp.head.head.head)) else (cx / a, cy / a)
    case GMultiLineString(ls) if ls.nonEmpty =>
      var cx = 0.0; var cy = 0.0; var l = 0.0
      ls.foreach { ps =>
        val w = length(GLineString(ps))
        val (x, y) = centroid(GLineString(ps))
        cx += x * w; cy += y * w; l += w
      }
      if (l == 0) (ls.head.head.x, ls.head.head.y) else (cx / l, cy / l)
    case GCollection(gs) if gs.nonEmpty =>
      // dimension-dominant weighting: if any member has area, weight by
      // area (zero-area members vanish); else by length; else vertex mean —
      // matches the usual GIS convention for mixed collections instead of
      // the old first-member shortcut
      val areas = gs.map(area)
      if (areas.exists(_ > 0)) {
        var cx = 0.0; var cy = 0.0; var w = 0.0
        gs.zip(areas).foreach { case (g, a) =>
          if (a > 0) { val (x, y) = centroid(g); cx += x * a; cy += y * a; w += a }
        }
        (cx / w, cy / w)
      } else {
        val lens = gs.map(length)
        if (lens.exists(_ > 0)) {
          var cx = 0.0; var cy = 0.0; var w = 0.0
          gs.zip(lens).foreach { case (g, l) =>
            if (l > 0) { val (x, y) = centroid(g); cx += x * l; cy += y * l; w += l }
          }
          (cx / w, cy / w)
        } else {
          var cx = 0.0; var cy = 0.0; var n = 0
          gs.foreach(_.foreachPt { p => cx += p.x; cy += p.y; n += 1 })
          if (n == 0) (Double.NaN, Double.NaN) else (cx / n, cy / n)
        }
      }
    case _ => (Double.NaN, Double.NaN)
  }

  /** Assemble shapefile-style ring soup into polygons, reproducing the
    * reference (`/root/reference/src/ShapeFile.js:336-368`): CW rings
    * (accumulator ≥ 0) start a new polygon; CCW rings are holes appended to
    * the *preceding* CW ring's polygon; leading CCW rings before any CW ring
    * are grouped into an implicit first polygon. Single-polygon output stays
    * `Polygon` unless the record declared >1 part (quirk Q7: then
    * MultiPolygon-of-one).
    */
  def assembleRings(rings: Vector[Vector[Pt]], declaredParts: Int): Geom = {
    val polys = Vector.newBuilder[Vector[Vector[Pt]]]
    var current: Vector[Vector[Pt]] = Vector.empty
    rings.foreach { ring =>
      if (isClockwise(ring)) {
        if (current.nonEmpty) polys += current
        current = Vector(ring)
      } else {
        current = if (current.isEmpty) Vector(ring) else current :+ ring
      }
    }
    if (current.nonEmpty) polys += current
    val out = polys.result()
    if (out.length == 1 && declaredParts <= 1) GPolygon(out.head)
    else if (out.length == 1) GMultiPolygon(out) // Q7: one polygon, >1 parts
    else GMultiPolygon(out)
  }
}
