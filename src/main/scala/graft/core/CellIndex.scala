package graft.core

/** Hierarchical cell index (H3/S2-*style*, implemented from scratch — no
  * H3/S2 jar ships offline). Quadtree over [−180,180]×[−90,90]:
  *
  *   x = floor((lon+180)/360 · 2^res),  y = floor((lat+90)/180 · 2^res)
  *   cell = (res << 58) | morton(x, y)        (x in even bits, y in odd)
  *
  * res ∈ [0,28] ⇒ ≤56 morton bits; 5 res bits at 58..62; sign bit unused, so
  * every cell id is a non-negative Long. The morton code doubles as the
  * deterministic z-order sort key (SURVEY.md §2.6 O4): sorting by cell id
  * within a resolution IS z-order clustering.
  *
  * Hierarchy: parent = drop 2 low bits; children = append 2 bits; ring k =
  * Chebyshev shell (lon wraps, lat clamps). Cell sizes at res r:
  * 360/2^r × 180/2^r degrees.
  */
object CellIndex {

  final val MaxRes = 28

  @inline private def scaleX(lon: Double, n: Long): Long = {
    val t = (lon + 180.0) / 360.0
    clamp((t * n).toLong, n)
  }
  @inline private def scaleY(lat: Double, n: Long): Long = {
    val t = (lat + 90.0) / 180.0
    clamp((t * n).toLong, n)
  }
  @inline private def clamp(v: Long, n: Long): Long =
    if (v < 0) 0L else if (v >= n) n - 1 else v

  /** Spread the low 28 bits of v into even bit positions (0,2,4,…). */
  @inline def spread(v: Long): Long = {
    var x = v & 0x0FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Inverse of spread: gather even bit positions into the low 28 bits. */
  @inline def gather(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x
  }

  @inline def morton(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  def encodeXY(x: Long, y: Long, res: Int): Long =
    (res.toLong << 58) | morton(x, y)

  /** Cell id for a lon/lat at a resolution. */
  def encode(lon: Double, lat: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res $res out of [0,$MaxRes]")
    val n = 1L << res
    encodeXY(scaleX(lon, n), scaleY(lat, n), res)
  }

  @inline def res(cell: Long): Int = ((cell >>> 58) & 0x1FL).toInt
  @inline def x(cell: Long): Long = gather(cell & 0x03FFFFFFFFFFFFFFL)
  @inline def y(cell: Long): Long = gather((cell & 0x03FFFFFFFFFFFFFFL) >>> 1)

  def parent(cell: Long): Long = {
    val r = res(cell)
    require(r > 0, "res-0 cell has no parent")
    ((r - 1).toLong << 58) | ((cell & 0x03FFFFFFFFFFFFFFL) >>> 2)
  }

  /** Ancestor at resolution `toRes ≤ res(cell)`. */
  def parentAt(cell: Long, toRes: Int): Long = {
    val r = res(cell)
    require(toRes >= 0 && toRes <= r, s"toRes $toRes out of [0,$r]")
    (toRes.toLong << 58) | ((cell & 0x03FFFFFFFFFFFFFFL) >>> (2 * (r - toRes)))
  }

  def children(cell: Long): Array[Long] = {
    val r = res(cell)
    require(r < MaxRes, "max-res cell has no children")
    val base = ((r + 1).toLong << 58) | ((cell & 0x03FFFFFFFFFFFFFFL) << 2)
    Array(base, base | 1L, base | 2L, base | 3L)
  }

  /** (minLon, minLat, maxLon, maxLat) of the cell. */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = res(cell)
    val n = (1L << r).toDouble
    val cx = x(cell).toDouble; val cy = y(cell).toDouble
    (cx / n * 360.0 - 180.0, cy / n * 180.0 - 90.0,
      (cx + 1) / n * 360.0 - 180.0, (cy + 1) / n * 180.0 - 90.0)
  }

  /** Cell center (lon, lat). */
  def center(cell: Long): (Double, Double) = {
    val (a, b, c, d) = bounds(cell)
    ((a + c) / 2, (b + d) / 2)
  }

  /** Chebyshev shell at exactly distance k (k=0 → the cell itself).
    * x wraps around the antimeridian; y out of range is dropped.
    * Output sorted ascending for determinism.
    */
  def ring(cell: Long, k: Int): Array[Long] = {
    val r = res(cell)
    val n = 1L << r
    val cx = x(cell); val cy = y(cell)
    if (k == 0) return Array(cell)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (Math.abs(dx) == k || Math.abs(dy) == k) {
          val ny = cy + dy
          if (ny >= 0 && ny < n) {
            val nx = ((cx + dx) % n + n) % n // wrap lon
            out += encodeXY(nx, ny, r)
          }
        }
        dy += 1
      }
      dx += 1
    }
    val arr = out.distinct.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** All cells within Chebyshev distance ≤ k (the "disk"). Sorted. */
  def disk(cell: Long, k: Int): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i <= k) { out ++= ring(cell, i); i += 1 }
    val arr = out.distinct.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Rectangular disk: all cells with |dy| ≤ ky (out-of-range y dropped) and
    * wrapped |dx| ≤ kx (full x ring when 2·kx+1 ≥ 2^res). The anisotropic
    * variant of [[disk]] for METERS-radius joins: longitude cells shrink by
    * cos(lat), so the x reach (in cells) needed to cover a fixed great-circle
    * radius grows with latitude while the y reach stays constant — a square
    * Chebyshev disk sized for the x reach would pay (2k+1)² fan-out where
    * (2kx+1)·(2ky+1) suffices. Sorted ascending for determinism. */
  def rect(cell: Long, kx: Int, ky: Int): Array[Long] = {
    val r = res(cell)
    val n = 1L << r
    val cx = x(cell); val cy = y(cell)
    val fullX = 2L * kx + 1 >= n
    val loX = if (fullX) 0L else -kx.toLong
    val hiX = if (fullX) n - 1 else kx.toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dy = -ky.toLong
    while (dy <= ky) {
      val ny = cy + dy
      if (ny >= 0 && ny < n) {
        var dx = loX
        while (dx <= hiX) {
          val nx = if (fullX) dx else ((cx + dx) % n + n) % n
          out += encodeXY(nx, ny, r)
          dx += 1
        }
      }
      dy += 1
    }
    val arr = out.distinct.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Cells with Chebyshev distance in [kLo, kHi] — the incremental shell for
    * ring-expansion kNN. Computed as disk(kHi) \ disk(kLo−1) so it stays
    * exact under antimeridian wrap: a naive per-ring enumeration re-emits
    * wrapped cells whose TRUE distance is smaller than their nominal ring,
    * which would double-count candidates across kNN passes. Sorted. */
  def shell(cell: Long, kLo: Int, kHi: Int): Array[Long] = {
    require(kLo <= kHi, s"shell range [$kLo, $kHi] inverted")
    if (kLo <= 0) return disk(cell, kHi)
    val inner = new java.util.HashSet[java.lang.Long]()
    disk(cell, kLo - 1).foreach(inner.add(_))
    disk(cell, kHi).filterNot(inner.contains(_))
  }

  /** Covering cells of a geometry: every cell at `res0` that intersects the
    * geometry's bbox ([[coverAt]]; no per-cell geometry test). Always a
    * superset of the exact cover — exact predicates re-filter after the
    * cell equi-join (SURVEY.md §2.3 J5/J7). Sorted ascending.
    *
    * When the bbox spans more than `maxCells` cells the resolution is
    * lowered until it fits. Cell ids encode their resolution, so a
    * coarsened cover never equals a `res0` point cell: equi-joining it
    * against points keyed at `res0` silently loses every row. The PIP join
    * uses [[coverAt]] at its own resolution instead.
    */
  def cover(g: Geom, res0: Int, maxCells: Int = 4096): Array[Long] = {
    var r = res0
    while (r > 0 && coverCount(g, r) > maxCells) r -= 1
    coverAt(g, r)
  }

  private def coverCount(g: Geom, r: Int): Long = {
    val (minx, miny, maxx, maxy) = g.bbox
    if (minx.isNaN) return 0
    val n = 1L << r
    val x0 = scaleX(minx, n); val x1 = scaleX(maxx, n)
    val y0 = scaleY(miny, n); val y1 = scaleY(maxy, n)
    (x1 - x0 + 1) * (y1 - y0 + 1)
  }

  /** Hard ceiling on a single cover's cell count: beyond this the array
    * size itself is the problem (a world-spanning bbox at res 28 is ~7e16
    * cells — Int overflow + OOM). cover() coarsens under its own maxCells
    * long before this; direct coverAt callers get a clear error instead. */
  final val MaxCoverCells: Long = 1L << 24

  /** All cells at res r whose box intersects the geometry bbox. */
  def coverAt(g: Geom, r: Int): Array[Long] = {
    val (minx, miny, maxx, maxy) = g.bbox
    if (minx.isNaN) return Array.empty
    val n = 1L << r
    val x0 = scaleX(minx, n); val x1 = scaleX(maxx, n)
    val y0 = scaleY(miny, n); val y1 = scaleY(maxy, n)
    val cnt = (x1 - x0 + 1) * (y1 - y0 + 1)
    require(cnt <= MaxCoverCells,
      s"coverAt: $cnt cells at res $r exceeds $MaxCoverCells — use cover() (coarsens) or a lower res")
    val out = new Array[Long](cnt.toInt)
    var i = 0
    var xx = x0
    while (xx <= x1) {
      var yy = y0
      while (yy <= y1) {
        out(i) = encodeXY(xx, yy, r)
        i += 1
        yy += 1
      }
      xx += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}
