package graft.core

/** A polygon dictionary prepared once for point-in-polygon lookups: what
  * each task of the PIP join ([[graft.plans.PipJoinExec]]) builds from the
  * broadcast polygon rows.
  *
  * Each polygon is decoded once into flat coordinate arrays (parts → rings
  * → vertices, CSR offsets), and its cover cells at the join resolution go
  * into a sorted cell → polygon table (CSR). A lookup encodes the point's
  * cell, binary-searches the table and ray-casts only the polygons listed
  * there. Size is O(cells + vertices), where a cell equi-join would carry
  * each polygon's whole WKB on every one of its cover-cell rows.
  *
  * The cover is [[CellIndex.coverAt]] at `res` — every cell of the bbox,
  * never coarsened — so every point of a polygon finds it in its own cell;
  * a cover above [[CellIndex.MaxCoverCells]] fails at build time.
  *
  * [[contains]] returns exactly the boolean of [[Kernels.containsWkb]]: the
  * same edge order, arithmetic and implicit ring close; Polygon and
  * MultiPolygon parts, GeometryCollection members flattened, Point members
  * by exact coordinate match, every other kind false. Decoding goes through
  * [[Wkb.read]] (either byte order; Z/M rejected as there).
  */
final class PipIndex private (
    val res: Int,
    cells: Array[Long],      // sorted, distinct
    cellStart: Array[Int],   // cells.length + 1 offsets into cellPolys
    cellPolys: Array[Int],   // polygon indices, ascending within a cell
    polyPart: Array[Int],    // polygons + 1 offsets into parts
    partRing: Array[Int],    // parts + 1 offsets into rings
    pointPart: Array[Boolean], // part is a Point: one ring of one vertex
    ringStart: Array[Int],   // rings + 1 offsets into vertices
    xy: Array[Double])       // vertices, x and y interleaved
    extends Serializable {

  def numPolygons: Int = polyPart.length - 1
  def numCells: Int = cells.length

  /** Indices of the polygons that contain (px, py), ascending. */
  def matches(px: Double, py: Double): Array[Int] = {
    val c = java.util.Arrays.binarySearch(cells, CellIndex.encode(px, py, res))
    if (c < 0) return PipIndex.NoMatch
    var out = PipIndex.NoMatch
    var j = cellStart(c)
    val end = cellStart(c + 1)
    while (j < end) {
      val k = cellPolys(j)
      if (contains(k, px, py)) {
        out = java.util.Arrays.copyOf(out, out.length + 1)
        out(out.length - 1) = k
      }
      j += 1
    }
    out
  }

  /** Polygon `k` contains (px, py) — the [[Kernels.containsWkb]] answer. */
  def contains(k: Int, px: Double, py: Double): Boolean = {
    var p = polyPart(k)
    val end = polyPart(k + 1)
    var found = false
    while (p < end && !found) {
      found =
        if (pointPart(p)) {
          val v = 2 * ringStart(partRing(p))
          xy(v) == px && xy(v + 1) == py
        } else polygonContains(partRing(p), partRing(p + 1), px, py)
      p += 1
    }
    found
  }

  /** Shell ray-cast in, no hole ray-cast in (as Kernels.polygonContains). */
  private def polygonContains(r0: Int, r1: Int, px: Double, py: Double): Boolean = {
    if (r0 == r1 || !ringContains(r0, px, py)) return false
    var r = r0 + 1
    while (r < r1) {
      if (ringContains(r, px, py)) return false
      r += 1
    }
    true
  }

  private def ringContains(r: Int, px: Double, py: Double): Boolean = {
    val s = 2 * ringStart(r)
    val e = 2 * ringStart(r + 1)
    if (s == e) return false
    val x0 = xy(s); val y0 = xy(s + 1)
    var xj = x0; var yj = y0
    var inRing = false
    var i = s + 2
    while (i < e) {
      val xi = xy(i); val yi = xy(i + 1)
      if (((yi > py) != (yj > py)) && (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inRing = !inRing
      xj = xi; yj = yi
      i += 2
    }
    // close ring against the first vertex if not explicitly closed
    if ((xj != x0 || yj != y0) &&
      ((y0 > py) != (yj > py)) && (px < (xj - x0) * (py - y0) / (yj - y0) + x0)) inRing = !inRing
    inRing
  }
}

object PipIndex {

  private val NoMatch: Array[Int] = new Array[Int](0)

  /** Prepares `geoms` (WKB; a null entry matches nothing) at `res`; polygon
    * `k` of the index is `geoms(k)`. */
  def build(geoms: Array[Array[Byte]], res: Int): PipIndex = {
    val polyPart = new Array[Int](geoms.length + 1)
    val partRing = Array.newBuilder[Int]
    val pointPart = Array.newBuilder[Boolean]
    val ringStart = Array.newBuilder[Int]
    val xy = Array.newBuilder[Double]
    var parts = 0; var rings = 0; var verts = 0

    def ring(pts: Vector[Pt]): Unit = {
      ringStart += verts
      pts.foreach { q => xy += q.x; xy += q.y }
      verts += pts.length; rings += 1
    }
    def part(rs: Vector[Vector[Pt]], point: Boolean): Unit = {
      partRing += rings; pointPart += point; parts += 1
      rs.foreach(ring)
    }
    def flatten(g: Geom): Unit = g match {
      case GPolygon(rs)      => part(rs, point = false)
      case GMultiPolygon(pp) => pp.foreach(part(_, point = false))
      case GCollection(gs)   => gs.foreach(flatten)
      case GPoint(q)         => part(Vector(Vector(q)), point = true)
      case _                 => ()
    }

    val covers = new Array[Array[Long]](geoms.length)
    var k = 0
    while (k < geoms.length) {
      polyPart(k) = parts
      if (geoms(k) == null) covers(k) = Array.emptyLongArray
      else {
        val g = Wkb.read(geoms(k))
        covers(k) = CellIndex.coverAt(g, res)
        flatten(g)
      }
      k += 1
    }
    polyPart(geoms.length) = parts
    partRing += rings
    ringStart += verts

    // cell → polygons, CSR: polygons visited in ascending order, so each
    // cell's list comes out ascending
    val all = covers.flatten
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { j => if (j == 0 || all(j) != all(j - 1)) { all(n) = all(j); n += 1 } }
    val cells = java.util.Arrays.copyOf(all, n)
    val cellStart = new Array[Int](cells.length + 1)
    covers.foreach(_.foreach(c => cellStart(java.util.Arrays.binarySearch(cells, c) + 1) += 1))
    var i = 0
    while (i < cells.length) { cellStart(i + 1) += cellStart(i); i += 1 }
    val fill = java.util.Arrays.copyOf(cellStart, cells.length)
    val cellPolys = new Array[Int](cellStart(cells.length))
    k = 0
    while (k < covers.length) {
      covers(k).foreach { c =>
        val at = java.util.Arrays.binarySearch(cells, c)
        cellPolys(fill(at)) = k
        fill(at) += 1
      }
      k += 1
    }
    new PipIndex(res, cells, cellStart, cellPolys, polyPart, partRing.result(),
      pointPart.result(), ringStart.result(), xy.result())
  }
}
