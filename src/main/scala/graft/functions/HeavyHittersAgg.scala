package graft.functions

import java.nio.charset.StandardCharsets
import java.util.HashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitter CANDIDATES over a string column: a bounded
  * (≤ k entries) counter map whose guarantee — any item with true frequency
  * > n/(k+1) survives — holds under merging (Agarwal et al., "Mergeable
  * Summaries", PODS'12: summed maps pruned by the (k+1)-th largest count).
  * A `TypedImperativeAggregate`, so the sketch pass is map-side partial:
  * each task ships ≤ k (string, count) pairs, never the vocabulary.
  *
  * The MG state itself is NOT merge-order-deterministic (residual counts
  * differ) — deliberately, only the candidate STRINGS are emitted, and the
  * caller must recount candidates exactly and threshold ([[
  * graft.operators.Sketch.heavyHitters]]): the two-pass output is exact and
  * bit-deterministic, the sketch only bounds WHICH strings can matter.
  * Candidates return sorted in UTF-16 code-unit order (String.compareTo —
  * diverges from UTF-8 byte order only for supplementary-plane characters;
  * the order only stabilizes plans, output sets are order-independent).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[HashMap[String, Long]] {

  require(k >= 1, "k must be >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): HashMap[String, Long] =
    new HashMap[String, Long](k * 2)

  /** Add `w` items of `s`: bump if tracked or free slot, else decrement
    * all by the amount that empties at least one slot (batched MG step). */
  private def add(buf: HashMap[String, Long], s: String, w: Long): Unit = {
    // containsKey, not get: a missing key unboxes to 0L, never null
    val tracked = buf.containsKey(s)
    if (tracked || buf.size < k) {
      buf.put(s, if (tracked) buf.get(s) + w else w)
    } else {
      // decrement by min(w, smallest tracked count); repeat via recursion
      var min = Long.MaxValue
      val it = buf.values().iterator()
      while (it.hasNext) { val v = it.next(); if (v < min) min = v }
      val dec = math.min(w, min)
      val es = buf.entrySet().iterator()
      while (es.hasNext) {
        val e = es.next()
        if (e.getValue == dec) es.remove() else e.setValue(e.getValue - dec)
      }
      if (w > dec) add(buf, s, w - dec)
    }
  }

  override def update(
      buf: HashMap[String, Long], input: InternalRow): HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(
      a: HashMap[String, Long], b: HashMap[String, Long]): HashMap[String, Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); add(a, e.getKey, e.getValue) }
    a
  }

  override def eval(buf: HashMap[String, Long]): Any = {
    val keys = new Array[String](buf.size)
    val it = buf.keySet().iterator()
    var i = 0
    while (it.hasNext) { keys(i) = it.next(); i += 1 }
    java.util.Arrays.sort(keys, (x: String, y: String) => x.compareTo(y))
    new GenericArrayData(keys.map(UTF8String.fromString(_)))
  }

  override def serialize(buf: HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bs = e.getKey.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bs.length); out.write(bs); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val bs = new Array[Byte](len); in.readFully(bs)
      buf.put(new String(bs, StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): MisraGries =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MisraGries =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "misra_gries"
}
