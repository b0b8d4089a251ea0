package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Kernels

/** Static forwarders callable from generated Java (Janino) so the dedup/ANN
  * kernel expressions implement doGenCode instead of CodegenFallback — a
  * CodegenFallback in a projection SPLITS the whole-stage codegen span, so
  * every row of q21/q22/q24/q25's hot stages paid an interpreted boundary.
  * Conversions (UTF8String→String, ArrayData↔Array) live here; the pure
  * kernels stay Spark-free in `graft.core.Kernels`.
  */
object KernelBridge {

  def minhashSig(text: UTF8String, shingleLen: Int, perms: Int): ArrayData =
    new GenericArrayData(Kernels.minhashSig(text.toString, shingleLen, perms))

  def cellRing(cell: Long, k: Int): ArrayData =
    new GenericArrayData(Kernels.cellRing(cell, k))

  def cellDisk(cell: Long, k: Int): ArrayData =
    new GenericArrayData(Kernels.cellDisk(cell, k))

  def cellShell(cell: Long, kLo: Int, kHi: Int): ArrayData =
    new GenericArrayData(Kernels.cellShell(cell, kLo, kHi))

  def cellRect(cell: Long, kx: Int, ky: Int): ArrayData =
    new GenericArrayData(Kernels.cellRect(cell, kx, ky))

  def cellCover(wkb: Array[Byte], res: Int, maxCells: Int): ArrayData =
    new GenericArrayData(Kernels.cellCover(wkb, res, maxCells))

  def shingleHashes(text: UTF8String, shingleLen: Int): ArrayData =
    new GenericArrayData(Kernels.shingleHashes(text.toString, shingleLen))

  def simhash64(text: UTF8String): Long = Kernels.simhash64(text.toString)

  def fp64(text: UTF8String, prefixLen: Int): Long =
    Kernels.fp64(text.toString, prefixLen)

  def jaccardSorted(a: ArrayData, b: ArrayData): Double =
    Kernels.jaccardSorted(a.toLongArray(), b.toLongArray())

  /** ArrayData of float/double/int/long → Array[Double] (matches ArrConv). */
  def toDoubles(arr: ArrayData, kind: Int): Array[Double] = kind match {
    case 0 =>
      val f = arr.toFloatArray(); val out = new Array[Double](f.length)
      var i = 0; while (i < f.length) { out(i) = f(i).toDouble; i += 1 }; out
    case 1 => arr.toDoubleArray()
    case 2 =>
      val l = arr.toLongArray(); val out = new Array[Double](l.length)
      var i = 0; while (i < l.length) { out(i) = l(i).toDouble; i += 1 }; out
    case _ =>
      val l = arr.toIntArray(); val out = new Array[Double](l.length)
      var i = 0; while (i < l.length) { out(i) = l(i).toDouble; i += 1 }; out
  }

  def hyperplaneSig(arr: ArrayData, kind: Int, planes: Int): Long =
    Kernels.hyperplaneSig(toDoubles(arr, kind), planes)

  def cosineSim(a: ArrayData, aKind: Int, b: ArrayData, bKind: Int): Double =
    Kernels.cosineSim(toDoubles(a, aKind), toDoubles(b, bKind))
}
