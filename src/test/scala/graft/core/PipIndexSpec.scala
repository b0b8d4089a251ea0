package graft.core

import java.io.{ByteArrayOutputStream, DataOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[PipIndex]] must give bit-for-bit the boolean of [[Kernels.containsWkb]]
  * (the kernel behind `st_contains`), both per polygon and through the cell
  * lookup of `matches`. */
class PipIndexSpec extends AnyFunSuite {
  private val res = 7

  /** Big-endian WKB (DataOutputStream writes big-endian). */
  private def wkbBe(g: Geom): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    def line(ps: Vector[Pt]): Unit = { out.writeInt(ps.length); ps.foreach { p => out.writeDouble(p.x); out.writeDouble(p.y) } }
    def put(g: Geom): Unit = {
      out.writeByte(0); out.writeInt(g.wkbType)
      g match {
        case GPoint(p)            => out.writeDouble(p.x); out.writeDouble(p.y)
        case GMultiPoint(ps)      => out.writeInt(ps.length); ps.foreach(p => put(GPoint(p)))
        case GLineString(ps)      => line(ps)
        case GMultiLineString(ls) => out.writeInt(ls.length); ls.foreach(l => put(GLineString(l)))
        case GPolygon(rs)         => out.writeInt(rs.length); rs.foreach(line)
        case GMultiPolygon(pp)    => out.writeInt(pp.length); pp.foreach(rs => put(GPolygon(rs)))
        case GCollection(gs)      => out.writeInt(gs.length); gs.foreach(put)
      }
    }
    put(g); out.flush(); bos.toByteArray
  }

  /** Star-shaped ring around (cx, cy), closed unless `open`. */
  private def star(rnd: Random, cx: Double, cy: Double, r: Double, n: Int, open: Boolean = false): Vector[Pt] = {
    val ps = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      val rr = r * (0.4 + 0.6 * rnd.nextDouble())
      Pt(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }.toVector
    if (open) ps else ps :+ ps.head
  }

  /** Probe points: random in the bbox (widened), every vertex, every edge
    * midpoint, and points level with each vertex (horizontal-ray edge cases). */
  private def probes(rnd: Random, g: Geom): Seq[(Double, Double)] = {
    val (x0, y0, x1, y1) = if (g.bbox._1.isNaN) (0.0, 0.0, 1.0, 1.0) else g.bbox
    val w = (x1 - x0) max 1e-3; val h = (y1 - y0) max 1e-3
    val random = Seq.fill(400)((x0 - 0.1 * w + rnd.nextDouble() * 1.2 * w, y0 - 0.1 * h + rnd.nextDouble() * 1.2 * h))
    val verts = scala.collection.mutable.ArrayBuffer.empty[Pt]
    g.foreachPt(verts += _)
    val onEdges = verts.toSeq.zip(verts.drop(1)).map { case (a, b) => ((a.x + b.x) / 2, (a.y + b.y) / 2) }
    val level = verts.toSeq.map(p => (x0 + rnd.nextDouble() * w, p.y))
    random ++ verts.map(p => (p.x, p.y)) ++ onEdges ++ level
  }

  private def assertParity(g: Geom, wkb: Array[Byte], rnd: Random): Unit = {
    val idx = PipIndex.build(Array(wkb), res)
    probes(rnd, g).foreach { case (x, y) =>
      val want = Kernels.containsWkb(wkb, x, y)
      assert(idx.contains(0, x, y) == want, s"contains ${g.kind} at ($x, $y)")
      assert(idx.matches(x, y).sameElements(if (want) Array(0) else Array.empty[Int]),
        s"matches ${g.kind} at ($x, $y)")
    }
  }

  test("agrees with containsWkb on random polygons with holes, both byte orders (seeded)") {
    val rnd = new Random(7)
    (1 to 60).foreach { _ =>
      val cx = rnd.nextDouble() * 300 - 150; val cy = rnd.nextDouble() * 140 - 70
      val r = 0.5 + rnd.nextDouble() * 12
      val shell = star(rnd, cx, cy, r, 3 + rnd.nextInt(30))
      val holes = Vector.fill(rnd.nextInt(3))(star(rnd, cx, cy, r * 0.3, 3 + rnd.nextInt(6)))
      val g = GPolygon(shell +: holes)
      assert(Wkb.read(wkbBe(g)) == g)
      assertParity(g, Wkb.write(g), rnd)
      assertParity(g, wkbBe(g), rnd)
    }
  }

  test("agrees on MultiPolygon, GeometryCollection, unclosed ring, Point and non-areal kinds") {
    val rnd = new Random(11)
    val a = Vector(star(rnd, 10, 10, 5, 12), star(rnd, 10, 10, 1.5, 5))
    val b = Vector(star(rnd, 14, 12, 4, 9)) // overlaps a: parts OR together
    val geoms = Seq(
      GMultiPolygon(Vector(a, b)),
      GCollection(Vector(GPoint(10, 10), GLineString(Vector(Pt(0, 0), Pt(20, 20))),
        GPolygon(b), GCollection(Vector(GPoint(3.25, 4.5), GMultiPoint(Vector(Pt(5, 5))))))),
      GPolygon(Vector(star(rnd, -40, 30, 6, 11, open = true))),
      GPolygon(Vector(star(rnd, -40, 30, 6, 11, open = true), star(rnd, -40, 30, 2, 4, open = true))),
      GPoint(1.5, -2.25),
      GMultiPoint(Vector(Pt(5, 5), Pt(6, 6))),
      GLineString(Vector(Pt(0, 0), Pt(1, 1))),
      GMultiLineString(Vector(Vector(Pt(0, 0), Pt(1, 1)))))
    geoms.foreach { g =>
      assertParity(g, Wkb.write(g), rnd)
      assertParity(g, wkbBe(g), rnd)
    }
    // EWKB members with the SRID flag: a MultiPolygon member and a skipped
    // MultiLineString member inside a collection
    val srid = java.nio.ByteBuffer.allocate(256).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ring(ps: (Double, Double)*): Unit = { srid.putInt(ps.length); ps.foreach { case (x, y) => srid.putDouble(x).putDouble(y) } }
    srid.put(1.toByte).putInt(7).putInt(2)
    srid.put(1.toByte).putInt(5).putInt(1).put(1.toByte).putInt(0x20000002).putInt(4326)
    ring((0, 0), (9, 9))
    srid.put(1.toByte).putInt(6).putInt(1).put(1.toByte).putInt(0x20000003).putInt(4326).putInt(1)
    ring((0, 0), (10, 0), (10, 10), (0, 10), (0, 0))
    val ewkb = java.util.Arrays.copyOf(srid.array(), srid.position())
    assert(Kernels.containsWkb(ewkb, 5, 5) && !Kernels.containsWkb(ewkb, 11, 5))
    assertParity(Wkb.read(ewkb), ewkb, rnd)
    // GC points match by exact coordinates only; a MultiPoint never does
    val gc = PipIndex.build(Array(Wkb.write(geoms(1))), res)
    assert(gc.contains(0, 3.25, 4.5) && gc.contains(0, 10, 10))
    assert(!gc.contains(0, 5, 5) && !gc.contains(0, 3.25, 4.5000001))
  }

  test("empty polygon and null geometry match nothing; indices follow input order") {
    val sq = Wkb.write(GPolygon(Vector(Vector(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4), Pt(0, 0)))))
    val empty = Wkb.write(GPolygon(Vector.empty))
    val idx = PipIndex.build(Array(null, empty, sq, sq), res)
    assert(idx.numPolygons == 4)
    assert(idx.matches(1, 1).toSeq == Seq(2, 3))
    assert(idx.matches(5, 5).isEmpty && idx.matches(-100, 60).isEmpty)
    assert(!Kernels.containsWkb(empty, 0, 0) && !idx.contains(1, 0, 0))
  }

  test("Z/M WKB is rejected at build, as by containsWkb") {
    val z = Wkb.write(GPolygon(Vector(Vector(Pt(0, 0), Pt(1, 0), Pt(0, 1), Pt(0, 0)))))
    z(1) = (1003 & 0xFF).toByte; z(2) = (1003 >> 8).toByte // ISO Polygon Z, little-endian
    intercept[IllegalArgumentException](Kernels.containsWkb(z, 0.2, 0.2))
    intercept[IllegalArgumentException](PipIndex.build(Array(z), res))
    // a Z member of a member the ray-cast skips (collection → MultiLineString
    // → LineString Z) is rejected too, not stepped over as 2-D
    val nested = java.nio.ByteBuffer.allocate(256).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    nested.put(1.toByte).putInt(7).putInt(2)
    nested.put(1.toByte).putInt(5).putInt(1).put(1.toByte).putInt(1002).putInt(2)
    (1 to 6).foreach(_ => nested.putDouble(0.5))
    nested.put(1.toByte).putInt(3).putInt(1).putInt(4)
    Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (0.0, 0.0)).foreach { case (x, y) => nested.putDouble(x).putDouble(y) }
    val zm = java.util.Arrays.copyOf(nested.array(), nested.position())
    intercept[IllegalArgumentException](Kernels.containsWkb(zm, 1, 1))
    intercept[IllegalArgumentException](PipIndex.build(Array(zm), res))
  }

  test("covers stay at the join resolution: a world-scale rectangle is exact") {
    val rect = GPolygon(Vector(Vector(Pt(-170, -80), Pt(170, -80), Pt(170, 80), Pt(-170, 80), Pt(-170, -80))))
    assert(CellIndex.cover(rect, res).exists(CellIndex.res(_) < res)) // cover() would coarsen
    val idx = PipIndex.build(Array(Wkb.write(rect)), res)
    assert(idx.numCells == CellIndex.coverAt(rect, res).length)
    val rnd = new Random(3)
    (1 to 500).foreach { _ =>
      val (x, y) = (rnd.nextDouble() * 339.9 - 169.95, rnd.nextDouble() * 159.9 - 79.95)
      assert(idx.matches(x, y).toSeq == Seq(0))
    }
  }
}
