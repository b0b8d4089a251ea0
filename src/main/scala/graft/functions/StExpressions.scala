package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{GeoJson, Geom, JArr, JNull, JNum, JObj, JValue, Json, Kernels, Wkb, Wkt}

/** Spatial Catalyst expressions. Hot scalar kernels (cell id, PIP, point
  * synth, distances, mixing) generate code via static calls into
  * `graft.core.Kernels`, so they stay inside whole-stage codegen; the
  * string-codec expressions use CodegenFallback (cold path: document
  * parsing, not per-join-row work).
  *
  * These subsume GeoConvert's WKT↔GeoJSON conversion layer
  * (`/root/reference/src/WKT.js:4-105`) as columnar expressions.
  */

/** st_cellId(lon, lat, res) → Long — hierarchical cell at resolution. */
case class StCellId(lon: Expression, lat: Expression, res: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def first: Expression = lon
  override def second: Expression = lat
  override def third: Expression = res
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.cellId(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.Kernels.cellId($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(lon = f, lat = s, res = t)
  override def prettyName: String = "st_cellid"
}

/** st_cellParent(cell, toRes) → Long — ancestor cell. */
case class StCellParent(cell: Expression, toRes: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def left: Expression = cell
  override def right: Expression = toRes
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cellParentAt(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kernels.cellParentAt($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, toRes = r)
  override def prettyName: String = "st_cellparent"
}

/** st_cellRing(cell, k) → Array[Long] — Chebyshev shell at distance k. */
case class StCellRing(cell: Expression, k: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def left: Expression = cell
  override def right: Expression = k
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Kernels.cellRing(a.asInstanceOf[Long], b.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KernelBridge.cellRing($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, k = r)
  override def prettyName: String = "st_cellring"
}

/** st_cellDisk(cell, k) → Array[Long] — all cells within distance k. */
case class StCellDisk(cell: Expression, k: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def left: Expression = cell
  override def right: Expression = k
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Kernels.cellDisk(a.asInstanceOf[Long], b.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KernelBridge.cellDisk($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, k = r)
  override def prettyName: String = "st_celldisk"
}

/** st_cellShell(cell, kLo, kHi) → Array[Long] — Chebyshev shell [kLo, kHi],
  * wrap-exact (disk difference): the incremental-kNN candidate generator. */
case class StCellShell(cell: Expression, kLo: Expression, kHi: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def first: Expression = cell
  override def second: Expression = kLo
  override def third: Expression = kHi
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(Kernels.cellShell(a.asInstanceOf[Long], b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.KernelBridge.cellShell($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(cell = f, kLo = s, kHi = t)
  override def prettyName: String = "st_cellshell"
}

/** st_cellRect(cell, kx, ky) → Array[Long] — rectangular disk (|dx| ≤ kx
  * wrapped, |dy| ≤ ky clamped): the anisotropic prefilter for meters-radius
  * joins where the x reach grows with latitude. */
case class StCellRect(cell: Expression, kx: Expression, ky: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def first: Expression = cell
  override def second: Expression = kx
  override def third: Expression = ky
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(Kernels.cellRect(a.asInstanceOf[Long], b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.KernelBridge.cellRect($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(cell = f, kx = s, ky = t)
  override def prettyName: String = "st_cellrect"
}

/** st_cellCover(wkb, res) → Array[Long] — covering cells (superset). */
case class StCellCover(geom: Expression, res: Expression, maxCells: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def first: Expression = geom
  override def second: Expression = res
  override def third: Expression = maxCells
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(Kernels.cellCover(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.KernelBridge.cellCover($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(geom = f, res = s, maxCells = t)
  override def prettyName: String = "st_cellcover"
}

/** st_point(lon, lat) → WKB point bytes. */
case class StPoint(lon: Expression, lat: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def left: Expression = lon
  override def right: Expression = lat
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.pointWkb(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kernels.pointWkb($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lon = l, lat = r)
  override def prettyName: String = "st_point"
}

/** st_x(wkbPoint) / st_y(wkbPoint) → Double. */
case class StX(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbX(v.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.wkbX($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_x"
}

case class StY(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbY(v.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.wkbY($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_y"
}

/** Geometry accessor expressions over WKB (area/length/centroid/bbox/...). */
case class StArea(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbArea(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_area"
}

case class StLength(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbLength(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_length"
}

case class StCentroid(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbCentroid(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_centroid"
}

case class StNumPoints(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.wkbNumPoints(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_numpoints"
}

case class StGeomType(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Kernels.wkbGeomType(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomtype"
}

case class StBBox(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Kernels.wkbBbox(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_bbox"
}

/** st_cellx(cell) / st_celly(cell) → Long — grid coordinates (Morton
  * de-interleave); lets external SQL (DuckDB oracle) cross-check the cell
  * encoding with plain floor arithmetic. */
case class StCellX(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = graft.core.CellIndex.x(v.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.cellX($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_cellx"
}

case class StCellY(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = graft.core.CellIndex.y(v.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.cellY($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_celly"
}

/** st_contains(polyWkb, lon, lat) → Boolean — ray-cast PIP over raw WKB. */
case class StContains(geom: Expression, lon: Expression, lat: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def first: Expression = geom
  override def second: Expression = lon
  override def third: Expression = lat
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.containsWkb(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double], c.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.Kernels.containsWkb($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(geom = f, lon = s, lat = t)
  override def prettyName: String = "st_contains"
}

/** st_haversine(lon1, lat1, lon2, lat2) → meters. */
case class StHaversine(lon1: Expression, lat1: Expression, lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Kernels.haversine(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.core.Kernels.haversine($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(lon1 = f, lat1 = s, lon2 = t, lat2 = q)
  override def prettyName: String = "st_haversine"
}

/** st_sqdist(x1, y1, x2, y2) → planar squared euclidean distance (exact
  * mul/add arithmetic — cross-engine deterministic for oracle checks). */
case class StSqDist(x1: Expression, y1: Expression, x2: Expression, y2: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def first: Expression = x1
  override def second: Expression = y1
  override def third: Expression = x2
  override def fourth: Expression = y2
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Kernels.sqDist(a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.core.Kernels.sqDist($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(x1 = f, y1 = s, x2 = t, y2 = q)
  override def prettyName: String = "st_sqdist"
}

/** phash_for(id) → synthetic-table phash (hot-spot skew; codegen'd). */
case class PhashFor(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.phashFor(v.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.phashFor($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "phash_for"
}

/** fp64(text, prefixLen) → rolling polynomial fingerprint (wrapping 64-bit
  * arithmetic — unaffected by ANSI overflow checking). */
case class StringFp64(text: Expression, prefixLen: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def left: Expression = text
  override def right: Expression = prefixLen
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.fp64(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KernelBridge.fp64($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(text = l, prefixLen = r)
  override def prettyName: String = "fp64"
}

/** minhash_sig(text, shingleLen, perms) → Array[Long] — single-pass MinHash. */
case class MinHashSig(text: Expression, shingleLen: Expression, perms: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def first: Expression = text
  override def second: Expression = shingleLen
  override def third: Expression = perms
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(Kernels.minhashSig(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int], c.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.KernelBridge.minhashSig($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(text = f, shingleLen = s, perms = t)
  override def prettyName: String = "minhash_sig"
}

/** shingle_hashes(text, n) → sorted distinct hashed n-gram set. */
case class ShingleHashes(text: Expression, shingleLen: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def left: Expression = text
  override def right: Expression = shingleLen
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(Kernels.shingleHashes(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KernelBridge.shingleHashes($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(text = l, shingleLen = r)
  override def prettyName: String = "shingle_hashes"
}

/** jaccard_sorted(a, b) → exact Jaccard of two sorted long-array sets. */
case class JaccardSorted(a: Expression, b: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def left: Expression = a
  override def right: Expression = b
  override def nullSafeEval(x: Any, y: Any): Any =
    Kernels.jaccardSorted(
      x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray(),
      y.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.KernelBridge.jaccardSorted($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
  override def prettyName: String = "jaccard_sorted"
}

/** hyperplane_sig(emb, planes) → Long — single-pass LSH signature. */
case class HyperplaneSig(emb: Expression, planes: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def left: Expression = emb
  override def right: Expression = planes
  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Kernels.hyperplaneSig(ArrConv.toDoubles(arr, emb.dataType), b.asInstanceOf[Int])
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.KernelBridge.hyperplaneSig($a, ${ArrConv.kindOf(emb.dataType)}, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(emb = l, planes = r)
  override def prettyName: String = "hyperplane_sig"
}

/** cosine_sim(a, b) → Double — single-pass cosine over numeric arrays. */
case class CosineSim(a: Expression, b: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def left: Expression = a
  override def right: Expression = b
  override def nullSafeEval(x: Any, y: Any): Any =
    Kernels.cosineSim(
      ArrConv.toDoubles(x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], a.dataType),
      ArrConv.toDoubles(y.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], b.dataType))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.KernelBridge.cosineSim($x, ${ArrConv.kindOf(a.dataType)}, $y, ${ArrConv.kindOf(b.dataType)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
  override def prettyName: String = "cosine_sim"
}

private object ArrConv {
  /** Element-type tag for the codegen bridge (KernelBridge.toDoubles). */
  def kindOf(dt: DataType): Int = dt match {
    case ArrayType(FloatType, _)   => 0
    case ArrayType(DoubleType, _)  => 1
    case ArrayType(LongType, _)    => 2
    case ArrayType(IntegerType, _) => 3
    case other => throw new IllegalArgumentException(s"unsupported array type $other")
  }
  def toDoubles(arr: org.apache.spark.sql.catalyst.util.ArrayData, dt: DataType): Array[Double] =
    dt match {
      case ArrayType(FloatType, _) =>
        val f = arr.toFloatArray(); val out = new Array[Double](f.length)
        var i = 0; while (i < f.length) { out(i) = f(i).toDouble; i += 1 }; out
      case ArrayType(DoubleType, _) => arr.toDoubleArray()
      case ArrayType(LongType, _) =>
        val l = arr.toLongArray(); val out = new Array[Double](l.length)
        var i = 0; while (i < l.length) { out(i) = l(i).toDouble; i += 1 }; out
      case ArrayType(IntegerType, _) =>
        val l = arr.toIntArray(); val out = new Array[Double](l.length)
        var i = 0; while (i < l.length) { out(i) = l(i).toDouble; i += 1 }; out
      case other => throw new IllegalArgumentException(s"unsupported array type $other")
    }
}

/** simhash64(text) → Long — single-pass whitespace-token SimHash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Kernels.simhash64(v.asInstanceOf[UTF8String].toString)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.KernelBridge.simhash64($v)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** mix64(key) → splitmix64-mixed Long (deterministic derivations, salting). */
case class Mix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = Kernels.mix64(v.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.Kernels.mix64($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "mix64"
}

/** kmv_est(kthHash, k) → KMV distinct estimate ⌊(k−1)·2^64 / unsigned(kth)⌋
  * (capped at Long.MaxValue; divisor clamped to 1). Codegen'd; the exact
  * 128-bit arithmetic lives in [[graft.core.Kernels.kmvEst]]. */
case class KmvEst(kth: Expression, k: Expression) extends BinaryExpression {
  override def left: Expression = kth
  override def right: Expression = k
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(h: Any, kk: Any): Any =
    Kernels.kmvEst(h.asInstanceOf[Long], kk.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kernels.kmvEst($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(kth = l, k = r)
  override def prettyName: String = "kmv_est"
}

/** st_geomFromWKT(str) → WKB (full parser; null on malformed). */
case class StGeomFromWkt(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Wkt.parseOpt(v.asInstanceOf[UTF8String].toString).map(Wkb.write).orNull
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromwkt"
}

/** st_geomFromWKT_gc(str) → WKB via the GeoConvert-parity dialect
  * (`WKT.js:23-38`): only POINT/LINESTRING/POLYGON; else null (Q11). */
case class StGeomFromWktGc(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Wkt.parseGeoConvert(v.asInstanceOf[UTF8String].toString).map(Wkb.write).orNull
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromwkt_gc"
}

/** st_asWKT(wkb) → String. */
case class StAsWkt(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Wkt.write(Wkb.read(v.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_aswkt"
}

/** st_geomFromGeoJSON(str) → WKB (null on malformed).
  *
  * Over `get_json_object(f, '$.geometry')` it reads the feature `f` with one
  * strict `Json` parse ([[StGeomFromGeoJson.geometryMember]]) in place of
  * Jackson's parse and copy followed by a second parse. It looks at its
  * child as resolved when it evaluates, since a Column child is still an
  * unresolved function call when it is built. A feature outside the set
  * where the one parse agrees with the chain runs the chain.
  */
case class StGeomFromGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  /** `f` when the child is `get_json_object(f, '$.geometry')`. */
  @transient private[functions] lazy val feature: Option[Expression] = child match {
    case GetJsonObject(f, Literal(p: UTF8String, _)) if p.toString == "$.geometry" => Some(f)
    case _ => None
  }
  override def eval(input: InternalRow): Any = feature match {
    case Some(f) =>
      val doc = f.eval(input)
      if (doc == null) null
      else StGeomFromGeoJson.geometryMember(doc.asInstanceOf[UTF8String].toString) match {
        case Some(JNull) => null
        case Some(g)     => wkbOrNull(GeoJson.geomFromJson(g))
        case None        => super.eval(input)
      }
    case None => super.eval(input)
  }
  override def nullSafeEval(v: Any): Any =
    wkbOrNull(GeoJson.readGeom(v.asInstanceOf[UTF8String].toString))
  private def wkbOrNull(g: => Geom): Any =
    (try Some(g) catch { case _: IllegalArgumentException => None }).map(Wkb.write).orNull
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromgeojson"
}

object StGeomFromGeoJson {
  /** The JSON that `get_json_object(doc, '$.geometry')` hands to
    * `st_geomfromgeojson`, from one [[Json.parseStrict]] of `doc`:
    *  - `Some(g)`: `g` is the first `geometry` member with a non-null value
    *    (Jackson's path match passes over null ones) and an object;
    *  - `Some(JNull)`: no member qualifies, so the chain gives null;
    *  - None: one parse may disagree with the chain. This covers a document
    *    that fails the strict parse (also on content after the root, which
    *    Jackson never reads), or that is not an object. It also covers a
    *    geometry that is not an object (Jackson returns a string's contents
    *    unquoted), or that holds a non-finite number (Jackson copies it as a
    *    string) or a zero with a minus sign (it copies the integer `-0` as
    *    `0`).
    */
  private[graft] def geometryMember(doc: String): Option[JValue] = {
    val root = try Json.parseStrict(doc) catch { case _: IllegalArgumentException => JNull }
    root match {
      case JObj(fields) =>
        fields.collectFirst { case ("geometry", g) if g != JNull => g } match {
          case None                                => Some(JNull)
          case Some(g: JObj) if copiesExactly(g)   => Some(g)
          case _                                   => None
        }
      case _ => None
    }
  }

  private def copiesExactly(v: JValue): Boolean = v match {
    case JNum(d)      => java.lang.Double.isFinite(d) && !(d == 0 && 1 / d < 0)
    case JArr(items)  => items.forall(copiesExactly)
    case JObj(fields) => fields.forall(f => copiesExactly(f._2))
    case _            => true
  }
}

/** st_asGeoJSON(wkb) → String (JSON.stringify-compatible number printing). */
case class StAsGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(GeoJson.write(Wkb.read(v.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_asgeojson"
}

/** Column API + SQL registration for all spatial functions. */
object st {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)
  // Children are coerced here (the expressions declare no inputTypes —
  // Spark's AbstractDataType is private[sql]); Catalyst's SimplifyCasts
  // removes the no-op ones.
  private def asD(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  private def asI(e: Expression): Expression =
    if (e.dataType == IntegerType) e else Cast(e, IntegerType)
  private def asL(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  def cellId(lon: Column, lat: Column, res: Int): Column =
    col(StCellId(asD(ex(lon)), asD(ex(lat)), Literal(res)))
  def cellParent(cell: Column, toRes: Int): Column =
    col(StCellParent(asL(ex(cell)), Literal(toRes)))
  def cellRing(cell: Column, k: Column): Column =
    col(StCellRing(asL(ex(cell)), asI(ex(k))))
  def cellDisk(cell: Column, k: Column): Column =
    col(StCellDisk(asL(ex(cell)), asI(ex(k))))
  def cellShell(cell: Column, kLo: Column, kHi: Column): Column =
    col(StCellShell(asL(ex(cell)), asI(ex(kLo)), asI(ex(kHi))))
  def cellRect(cell: Column, kx: Column, ky: Column): Column =
    col(StCellRect(asL(ex(cell)), asI(ex(kx)), asI(ex(ky))))
  def cellCover(geom: Column, res: Int, maxCells: Int = 4096): Column =
    col(StCellCover(ex(geom), Literal(res), Literal(maxCells)))
  def point(lon: Column, lat: Column): Column =
    col(StPoint(asD(ex(lon)), asD(ex(lat))))
  def x(g: Column): Column = col(StX(ex(g)))
  def area(g: Column): Column = col(StArea(ex(g)))
  def geomLength(g: Column): Column = col(StLength(ex(g)))
  def centroid(g: Column): Column = col(StCentroid(ex(g)))
  def numPoints(g: Column): Column = col(StNumPoints(ex(g)))
  def geomType(g: Column): Column = col(StGeomType(ex(g)))
  def bbox(g: Column): Column = col(StBBox(ex(g)))
  def cellX(cell: Column): Column = col(StCellX(asL(ex(cell))))
  def cellY(cell: Column): Column = col(StCellY(asL(ex(cell))))
  def y(g: Column): Column = col(StY(ex(g)))
  def contains(geom: Column, lon: Column, lat: Column): Column =
    col(StContains(ex(geom), asD(ex(lon)), asD(ex(lat))))
  def haversine(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(StHaversine(asD(ex(lon1)), asD(ex(lat1)), asD(ex(lon2)), asD(ex(lat2))))
  def sqDist(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    col(StSqDist(asD(ex(x1)), asD(ex(y1)), asD(ex(x2)), asD(ex(y2))))
  def mix64(c: Column): Column = col(Mix64(asL(ex(c))))
  def kmvEst(kth: Column, k: Int): Column = col(KmvEst(asL(ex(kth)), Literal(k)))
  def phashFor(c: Column): Column = col(PhashFor(asL(ex(c))))
  def fp64(text: Column, prefixLen: Int): Column = col(StringFp64(ex(text), Literal(prefixLen)))
  def minhashSig(text: Column, shingleLen: Int, perms: Int): Column =
    col(MinHashSig(ex(text), Literal(shingleLen), Literal(perms)))
  def simhash64(text: Column): Column = col(SimHash64(ex(text)))
  def hyperplaneSig(emb: Column, planes: Int): Column =
    col(HyperplaneSig(ex(emb), Literal(planes)))
  def cosineSim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def shingleHashes(text: Column, shingleLen: Int): Column =
    col(ShingleHashes(ex(text), Literal(shingleLen)))
  def jaccardSorted(a: Column, b: Column): Column = col(JaccardSorted(ex(a), ex(b)))
  def geomFromWkt(c: Column): Column = col(StGeomFromWkt(ex(c)))
  def geomFromWktGc(c: Column): Column = col(StGeomFromWktGc(ex(c)))
  def asWkt(c: Column): Column = col(StAsWkt(ex(c)))
  def geomFromGeoJson(c: Column): Column = col(StGeomFromGeoJson(ex(c)))
  def asGeoJson(c: Column): Column = col(StAsGeoJson(ex(c)))

  /** Register all functions for SQL use. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    one("st_cellid") { e => StCellId(asD(e(0)), asD(e(1)), asI(e(2))) }
    one("st_cellparent") { e => StCellParent(asL(e(0)), asI(e(1))) }
    one("st_cellring") { e => StCellRing(asL(e(0)), asI(e(1))) }
    one("st_celldisk") { e => StCellDisk(asL(e(0)), asI(e(1))) }
    one("st_cellshell") { e => StCellShell(asL(e(0)), asI(e(1)), asI(e(2))) }
    one("st_cellrect") { e => StCellRect(asL(e(0)), asI(e(1)), asI(e(2))) }
    one("st_cellcover") { e =>
      StCellCover(e(0), asI(e(1)), if (e.length > 2) asI(e(2)) else Literal(4096))
    }
    one("st_point") { e => StPoint(asD(e(0)), asD(e(1))) }
    one("st_x") { e => StX(e(0)) }
    one("st_cellx") { e => StCellX(asL(e(0))) }
    one("st_area") { e => StArea(e(0)) }
    one("st_length") { e => StLength(e(0)) }
    one("st_centroid") { e => StCentroid(e(0)) }
    one("st_numpoints") { e => StNumPoints(e(0)) }
    one("st_geomtype") { e => StGeomType(e(0)) }
    one("st_bbox") { e => StBBox(e(0)) }
    one("st_celly") { e => StCellY(asL(e(0))) }
    one("st_y") { e => StY(e(0)) }
    one("st_contains") { e => StContains(e(0), asD(e(1)), asD(e(2))) }
    one("st_haversine") { e => StHaversine(asD(e(0)), asD(e(1)), asD(e(2)), asD(e(3))) }
    one("st_sqdist") { e => StSqDist(asD(e(0)), asD(e(1)), asD(e(2)), asD(e(3))) }
    one("mix64") { e => Mix64(asL(e(0))) }
    one("phash_for") { e => PhashFor(asL(e(0))) }
    one("fp64") { e => StringFp64(e(0), if (e.length > 1) asI(e(1)) else Literal(256)) }
    one("minhash_sig") { e => MinHashSig(e(0), asI(e(1)), asI(e(2))) }
    one("simhash64") { e => SimHash64(e(0)) }
    one("shingle_hashes") { e => ShingleHashes(e(0), asI(e(1))) }
    one("hyperplane_sig") { e => HyperplaneSig(e(0), asI(e(1))) }
    one("cosine_sim") { e => CosineSim(e(0), e(1)) }
    one("jaccard_sorted") { e => JaccardSorted(e(0), e(1)) }
    one("st_geomfromwkt") { e => StGeomFromWkt(e(0)) }
    one("st_geomfromwkt_gc") { e => StGeomFromWktGc(e(0)) }
    one("st_aswkt") { e => StAsWkt(e(0)) }
    one("st_geomfromgeojson") { e => StGeomFromGeoJson(e(0)) }
    one("st_asgeojson") { e => StAsGeoJson(e(0)) }
  }
}
