package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Static kernel facade for Catalyst codegen: a Scala object with no
  * companion class emits static forwarders, so generated Java (Janino) can
  * call `graft.core.Kernels.cellId(...)` directly inside whole-stage codegen.
  * Every hot per-row kernel lives here; expressions delegate to these.
  */
object Kernels {

  // ---- cell index ----

  def cellId(lon: Double, lat: Double, res: Int): Long = CellIndex.encode(lon, lat, res)
  def cellParentAt(cell: Long, toRes: Int): Long = CellIndex.parentAt(cell, toRes)
  def cellRing(cell: Long, k: Int): Array[Long] = CellIndex.ring(cell, k)
  def cellDisk(cell: Long, k: Int): Array[Long] = CellIndex.disk(cell, k)
  def cellShell(cell: Long, kLo: Int, kHi: Int): Array[Long] = CellIndex.shell(cell, kLo, kHi)
  def cellRect(cell: Long, kx: Int, ky: Int): Array[Long] = CellIndex.rect(cell, kx, ky)
  def cellX(cell: Long): Long = CellIndex.x(cell)
  def cellY(cell: Long): Long = CellIndex.y(cell)

  /** splitmix64 finalizer — deterministic key mixing (geometry derivation
    * from phash, salting, synthetic data). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** KMV distinct-count estimate from the k-th smallest hash in UNSIGNED
    * order: est = ⌊(k−1)·2^64 / u⌋ (Bar-Yossef et al. 2002), u clamped to 1
    * and the estimate capped at Long.MaxValue. Exact 128-bit integer
    * arithmetic (BigInteger — called once per GROUP, not per row), so the
    * value replays bit-identically in any engine with int128 floor division
    * (DuckDB HUGEINT `//`). */
  def kmvEst(kthHash: Long, k: Int): Long = {
    val u =
      if (kthHash == 0L) java.math.BigInteger.ONE
      else new java.math.BigInteger(java.lang.Long.toUnsignedString(kthHash))
    val est = java.math.BigInteger.valueOf((k - 1).toLong).shiftLeft(64).divide(u)
    if (est.bitLength > 63) Long.MaxValue else est.longValue
  }

  /** Geometry derivation from a 64-bit perceptual hash: high 32 bits → lon,
    * low 32 bits → lat. Deterministic, locality-preserving (nearby hashes →
    * nearby points) and invertible — the synthetic generator can place
    * hot-spot clusters in chosen cells by constructing the phash from target
    * coordinates (FIXTURES.md §1).
    */
  def phashLon(phash: Long): Double =
    (phash >>> 32).toDouble / 4294967296.0 * 360.0 - 180.0

  /** phash → deterministic lat in [−85, 85). */
  def phashLat(phash: Long): Double =
    (phash & 0xFFFFFFFFL).toDouble / 4294967296.0 * 170.0 - 85.0

  /** Synthetic-table phash for a row id: uniform scatter, except 30% of
    * rows placed on 3 hot-spot cities (skew; FIXTURES.md §1). Pure function
    * of id — partitioning-safe, codegen-callable. */
  def phashFor(id: Long): Long = {
    if ((id % 10) < 3) {
      val idx = (id % 3).toInt
      val clon = hotspotLon(idx); val clat = hotspotLat(idx)
      val jx = ((mix64(id + 1) >>> 40).toDouble / 16777216.0 - 0.5) * 0.1
      val jy = ((mix64(id + 2) >>> 40).toDouble / 16777216.0 - 0.5) * 0.1
      lonLatToPhash(clon + jx, clat + jy)
    } else mix64(id)
  }

  def hotspotLon(i: Int): Double = i match {
    case 0 => 121.5654; case 1 => -0.1278; case _ => -74.006
  }
  def hotspotLat(i: Int): Double = i match {
    case 0 => 25.033; case 1 => 51.5074; case _ => 40.7128
  }

  /** Inverse derivation: target (lon, lat) → phash whose derived point is in
    * the same ~1e-7° neighborhood. */
  def lonLatToPhash(lon: Double, lat: Double): Long = {
    val hi = Math.min(4294967295L, Math.max(0L, ((lon + 180.0) / 360.0 * 4294967296.0).toLong))
    val lo = Math.min(4294967295L, Math.max(0L, ((lat + 85.0) / 170.0 * 4294967296.0).toLong))
    (hi << 32) | lo
  }

  /** Rolling polynomial fingerprint over the first `prefixLen` chars —
    * wrapping 64-bit arithmetic (document fingerprinting kernel). */
  def fp64(s: String, prefixLen: Int): Long = {
    var h = 1125899906842597L
    val n = Math.min(s.length, prefixLen)
    var i = 0
    while (i < n) { h = h * 31L + s.charAt(i).toLong; i += 1 }
    h
  }

  /** MinHash signature in one pass: rolling-hash every `shingleLen`-gram of
    * the lowercased text once, then per permutation i keep
    * min_j mix64(h_j ^ seed_i). O(chars + shingles·perms) — no intermediate
    * shingle arrays (the declarative formulation re-inlined the shingle
    * subtree once per permutation and was ~100× slower).
    */
  def minhashSig(text: String, shingleLen: Int, perms: Int): Array[Long] = {
    val t = text.toLowerCase
    val n = t.length
    val out = Array.fill(perms)(Long.MaxValue)
    if (n < shingleLen) {
      // degenerate: hash the whole (short) text as a single shingle
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 31L + t.charAt(i).toLong; i += 1 }
      var p = 0
      while (p < perms) { out(p) = mix64(h ^ (p.toLong * 0x9E3779B97F4A7C15L)); p += 1 }
      return out
    }
    var j = 0
    while (j + shingleLen <= n) {
      var h = 1125899906842597L
      var i = j
      while (i < j + shingleLen) { h = h * 31L + t.charAt(i).toLong; i += 1 }
      var p = 0
      while (p < perms) {
        val v = mix64(h ^ (p.toLong * 0x9E3779B97F4A7C15L))
        if (v < out(p)) out(p) = v
        p += 1
      }
      j += 1
    }
    out
  }

  /** Distinct hashed `n`-gram shingles of the lowercased text, sorted — the
    * document's shingle-set representation for exact Jaccard. */
  def shingleHashes(text: String, shingleLen: Int): Array[Long] = {
    val t = text.toLowerCase
    val n = t.length
    if (n == 0) return Array.empty
    val set = new java.util.TreeSet[java.lang.Long]()
    if (n < shingleLen) {
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 31L + t.charAt(i).toLong; i += 1 }
      set.add(h)
    } else {
      var j = 0
      while (j + shingleLen <= n) {
        var h = 1125899906842597L
        var i = j
        while (i < j + shingleLen) { h = h * 31L + t.charAt(i).toLong; i += 1 }
        set.add(h)
        j += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Jaccard similarity of two sorted long arrays (merge intersection). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }

  /** 64-bit SimHash over whitespace tokens in one pass (bit votes of
    * mix64(token rolling hash)). */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < n) {
        var h = 1125899906842597L
        while (i < n && !Character.isWhitespace(text.charAt(i))) {
          h = h * 31L + Character.toLowerCase(text.charAt(i)).toLong
          i += 1
        }
        val m = mix64(h)
        var b = 0
        while (b < 64) {
          if (((m >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · h_i), h_ij derived
    * from mix64(i·100003 + j) in [-1,1). One pass, no allocation. */
  def hyperplaneSig(v: Array[Double], planes: Int): Long = {
    var sig = 0L
    var i = 0
    while (i < planes) {
      var acc = 0.0
      var j = 0
      while (j < v.length) {
        acc += v(j) * (mix64(i.toLong * 100003L + j).toDouble / 9.223372036854776e18)
        j += 1
      }
      if (acc >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Cosine similarity of two double arrays (one pass). */
  def cosineSim(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = Math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (Math.sqrt(na) * Math.sqrt(nb))
  }

  // ---- distances ----

  def sqDist(ax: Double, ay: Double, bx: Double, by: Double): Double =
    GeomOps.sqDist(ax, ay, bx, by)

  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    GeomOps.haversine(lon1, lat1, lon2, lat2)

  // ---- WKB kernels (operate directly on bytes; no ADT allocation) ----

  /** 21-byte little-endian WKB point. */
  def pointWkb(x: Double, y: Double): Array[Byte] = {
    val buf = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte); buf.putInt(1); buf.putDouble(x); buf.putDouble(y)
    buf.array()
  }

  def wkbX(wkb: Array[Byte]): Double = rdDouble(wkb, 5, wkb(0) != 0)
  def wkbY(wkb: Array[Byte]): Double = rdDouble(wkb, 13, wkb(0) != 0)

  /** Ray-casting containment evaluated directly over WKB bytes (Polygon /
    * MultiPolygon / GeometryCollection; other kinds → false).
    *
    * TRUE zero allocation: reads ints/doubles straight out of the byte
    * array through byte-array VarHandle views — no ByteBuffer.wrap. The
    * previous wrap-per-call version allocated one buffer per joined row;
    * at 10⁸⁺ rows/core that garbage is what throttles the 32-way arm of
    * the scaling run (GC threads compete with worker threads).
    *
    * Cursor convention: helpers return `(nextOffset << 1) | insideBit`
    * packed in a Long so the walk stays allocation-free.
    */
  def containsWkb(wkb: Array[Byte], px: Double, py: Double): Boolean =
    (containsAt(wkb, 0, px, py, 1) & 1L) == 1L

  @inline private def rdInt(b: Array[Byte], off: Int, le: Boolean): Int = ByteView.getInt(b, off, le)

  @inline private def rdDouble(b: Array[Byte], off: Int, le: Boolean): Double = ByteView.getDouble(b, off, le)

  /** Offset of the body of the geometry whose header (order byte, type)
    * starts at `off`, past the SRID if flagged. Rejects Z/M the same way
    * Wkb.get does: the walks here assume 16 bytes per point, so EWKB flag
    * bits (0x80/0x40) or ISO type offsets (1001, 2003…) would silently
    * misparse the coordinate stream into arbitrary answers. */
  private def bodyAt(off: Int, rawType: Int): Int = {
    if ((rawType & 0xC0000000) != 0)
      throw new IllegalArgumentException(
        "wkb: EWKB Z/M geometry not supported — engine is 2-D")
    if ((rawType & 0x0FFFFFFF) >= 1000)
      throw new IllegalArgumentException(
        s"wkb: ISO Z/M geometry (type ${rawType & 0x0FFFFFFF}) not supported — engine is 2-D")
    if ((rawType & 0x20000000) != 0) off + 9 else off + 5
  }

  /** One geometry at `off` and `depth` ([[Geom.MaxDepth]] bounds it);
    * returns (nextOffset << 1) | inside. */
  private def containsAt(b: Array[Byte], off: Int, px: Double, py: Double, depth: Int): Long = {
    Geom.checkDepth(depth)
    val le = b(off) != 0
    val rawType = rdInt(b, off + 1, le)
    var p = bodyAt(off, rawType)
    rawType & 0xFF match {
      case 3 =>
        polygonContains(b, p, le, px, py)
      case 6 | 7 => // members carry their own header (byte order, SRID flag)
        val n = rdInt(b, p, le); p += 4
        var found = false
        var i = 0
        while (i < n) {
          val r = containsAt(b, p, px, py, depth + 1)
          p = (r >>> 1).toInt
          if ((r & 1L) == 1L) found = true
          i += 1
        }
        (p.toLong << 1) | (if (found) 1L else 0L)
      case 1 =>
        val x = rdDouble(b, p, le); val y = rdDouble(b, p + 8, le)
        ((p + 16).toLong << 1) | (if (x == px && y == py) 1L else 0L)
      case t =>
        (skipBody(b, p, le, t, depth).toLong << 1)
    }
  }

  /** Polygon body at `off` (ring count first); packed cursor|inside. */
  private def polygonContains(b: Array[Byte], off: Int, le: Boolean, px: Double, py: Double): Long = {
    val nRings = rdInt(b, off, le)
    var p = off + 4
    var inside = false
    var dead = false // outer miss / hole hit: result fixed, keep skipping
    var r = 0
    while (r < nRings) {
      val n = rdInt(b, p, le); p += 4
      if (dead) p += n * 16
      else {
        var inRing = false
        if (n > 0) {
          val x0 = rdDouble(b, p, le); val y0 = rdDouble(b, p + 8, le)
          var xj = x0; var yj = y0
          var i = 1
          while (i < n) {
            val xi = rdDouble(b, p + i * 16, le); val yi = rdDouble(b, p + i * 16 + 8, le)
            if (((yi > py) != (yj > py)) && (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inRing = !inRing
            xj = xi; yj = yi
            i += 1
          }
          // close ring against the first vertex if not explicitly closed
          if ((xj != x0 || yj != y0) &&
            ((y0 > py) != (yj > py)) && (px < (xj - x0) * (py - y0) / (yj - y0) + x0)) inRing = !inRing
        }
        p += n * 16
        if (r == 0) { if (inRing) inside = true else { inside = false; dead = true } }
        else if (inRing) { inside = false; dead = true }
      }
      r += 1
    }
    (p.toLong << 1) | (if (inside) 1L else 0L)
  }

  /** Skip one geometry BODY (after order+type) of kind `t` at `depth`;
    * returns offset. */
  private def skipBody(b: Array[Byte], off: Int, le: Boolean, t: Int, depth: Int): Int = t match {
    case 1 => off + 16
    case 2 =>
      val n = rdInt(b, off, le); off + 4 + n * 16
    case 3 =>
      val nRings = rdInt(b, off, le)
      var p = off + 4
      var r = 0
      while (r < nRings) { val n = rdInt(b, p, le); p += 4 + n * 16; r += 1 }
      p
    case 4 | 5 | 6 | 7 =>
      val n = rdInt(b, off, le)
      var p = off + 4
      var i = 0
      while (i < n) {
        val le2 = b(p) != 0
        val raw = rdInt(b, p + 1, le2)
        Geom.checkDepth(depth + 1)
        p = skipBody(b, bodyAt(p, raw), le2, raw & 0xFF, depth + 1)
        i += 1
      }
      p
    case _ => off
  }

  def wkbArea(wkb: Array[Byte]): Double = GeomOps.area(Wkb.read(wkb))
  def wkbLength(wkb: Array[Byte]): Double = GeomOps.length(Wkb.read(wkb))
  def wkbCentroid(wkb: Array[Byte]): Array[Byte] = {
    val (x, y) = GeomOps.centroid(Wkb.read(wkb))
    pointWkb(x, y)
  }
  def wkbNumPoints(wkb: Array[Byte]): Int = Wkb.read(wkb).numPoints
  def wkbGeomType(wkb: Array[Byte]): String = Wkb.read(wkb).kind

  /** bbox of any WKB as (minX, minY, maxX, maxY) array. */
  def wkbBbox(wkb: Array[Byte]): Array[Double] = {
    val g = Wkb.read(wkb)
    val (a, b, c, d) = g.bbox
    Array(a, b, c, d)
  }

  /** Covering cells of a WKB geometry (superset cover; maxCells coarsens). */
  def cellCover(wkb: Array[Byte], res: Int, maxCells: Int): Array[Long] =
    CellIndex.cover(Wkb.read(wkb), res, maxCells)
}
