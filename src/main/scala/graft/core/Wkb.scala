package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** OGC WKB codec, written from scratch (no JTS in main scope — JTS 1.20 is
  * used only as a test oracle). Writer always emits little-endian (byte
  * order marker 1) 2-D WKB; reader accepts both endiannesses, mirroring the
  * reference's mixed-endian shapefile reads
  * (`/root/reference/src/ShapeFile.js:73,76,107-113`).
  *
  * Little-endian output is the engine's canonical geometry byte form — the
  * `BinaryType` geometry column is stable across runs/parallelism, which the
  * byte-match determinism gate requires.
  */
object Wkb {

  // ---------- writer ----------

  def write(g: Geom): Array[Byte] = {
    val buf = ByteBuffer.allocate(size(g)).order(ByteOrder.LITTLE_ENDIAN)
    put(buf, g)
    buf.array()
  }

  private def size(g: Geom): Int = g match {
    case GPoint(_)            => 5 + 16
    case GMultiPoint(ps)      => 9 + ps.length * 21
    case GLineString(ps)      => 9 + ps.length * 16
    case GMultiLineString(ls) => 9 + ls.map(l => 9 + l.length * 16).sum
    case GPolygon(rs)         => 9 + rs.map(r => 4 + r.length * 16).sum
    case GMultiPolygon(pp)    => 9 + pp.map(rs => 9 + rs.map(r => 4 + r.length * 16).sum).sum
    case GCollection(gs)      => 9 + gs.map(size).sum
  }

  private def put(buf: ByteBuffer, g: Geom): Unit = {
    buf.put(1.toByte) // little-endian marker
    buf.putInt(g.wkbType)
    g match {
      case GPoint(p) =>
        buf.putDouble(p.x); buf.putDouble(p.y)
      case GMultiPoint(ps) =>
        buf.putInt(ps.length)
        ps.foreach { p => buf.put(1.toByte); buf.putInt(1); buf.putDouble(p.x); buf.putDouble(p.y) }
      case GLineString(ps) =>
        putLine(buf, ps)
      case GMultiLineString(ls) =>
        buf.putInt(ls.length)
        ls.foreach { l => buf.put(1.toByte); buf.putInt(2); putLine(buf, l) }
      case GPolygon(rs) =>
        buf.putInt(rs.length)
        rs.foreach(r => putLine(buf, r))
      case GMultiPolygon(pp) =>
        buf.putInt(pp.length)
        pp.foreach { rs =>
          buf.put(1.toByte); buf.putInt(3); buf.putInt(rs.length)
          rs.foreach(r => putLine(buf, r))
        }
      case GCollection(gs) =>
        buf.putInt(gs.length)
        gs.foreach(sub => put(buf, sub))
    }
  }

  private def putLine(buf: ByteBuffer, ps: Vector[Pt]): Unit = {
    buf.putInt(ps.length)
    ps.foreach { p => buf.putDouble(p.x); buf.putDouble(p.y) }
  }

  // ---------- reader ----------

  def read(bytes: Array[Byte]): Geom = {
    get(ByteBuffer.wrap(bytes), 1)
  }

  def readOpt(bytes: Array[Byte]): Option[Geom] =
    try Some(read(bytes)) catch { case _: Exception => None }

  /** One geometry at `depth` ([[Geom.MaxDepth]] bounds it). */
  private def get(buf: ByteBuffer, depth: Int): Geom = {
    Geom.checkDepth(depth)
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    // EWKB/ISO compat: strip EWKB flag bits, then fold ISO Z/M type offsets
    // (1001, 2003, …) back to the base kind via mod-1000. Z/M ordinates are
    // not read (the engine is 2-D everywhere) — reject them explicitly
    // rather than mis-parse the coordinate stream.
    val rawType = buf.getInt
    val hasSrid = (rawType & 0x20000000) != 0
    if (hasSrid) buf.getInt // skip SRID
    if ((rawType & 0xC0000000) != 0)
      throw new IllegalArgumentException(
        "wkb: EWKB Z/M geometry not supported — engine is 2-D")
    val isoType = rawType & 0x0FFFFFFF
    if (isoType >= 1000)
      throw new IllegalArgumentException(
        s"wkb: ISO Z/M geometry (type $isoType) not supported — engine is 2-D")
    isoType match {
      case 1 => GPoint(Pt(buf.getDouble, buf.getDouble))
      case 2 => GLineString(getLine(buf))
      case 3 =>
        val n = buf.getInt
        GPolygon(Vector.fill(n)(getLine(buf)))
      case 4 =>
        val n = buf.getInt
        GMultiPoint(Vector.fill(n) { get(buf, depth + 1) match {
          case GPoint(p) => p
          case other => throw new IllegalArgumentException(s"wkb: expected point in multipoint, got ${other.kind}")
        }})
      case 5 =>
        val n = buf.getInt
        GMultiLineString(Vector.fill(n) { get(buf, depth + 1) match {
          case GLineString(ps) => ps
          case other => throw new IllegalArgumentException(s"wkb: expected linestring, got ${other.kind}")
        }})
      case 6 =>
        val n = buf.getInt
        GMultiPolygon(Vector.fill(n) { get(buf, depth + 1) match {
          case GPolygon(rs) => rs
          case other => throw new IllegalArgumentException(s"wkb: expected polygon, got ${other.kind}")
        }})
      case 7 =>
        val n = buf.getInt
        GCollection(Vector.fill(n)(get(buf, depth + 1)))
      case other => throw new IllegalArgumentException(s"wkb: unknown type $other")
    }
  }

  private def getLine(buf: ByteBuffer): Vector[Pt] = {
    val n = buf.getInt
    Vector.fill(n)(Pt(buf.getDouble, buf.getDouble))
  }
}
