package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Kernels
import graft.functions.{st, SparkTestSession}

/** Pins [[Sketch.kmvDistinct]] (bounded-state KMV cardinality sketch):
  * the TypedImperativeAggregate must equal the exact DISTINCT + window-rank
  * formulation bit-for-bit, across partitionings (partial/merge exercised),
  * with the exact small-group path and a sane estimate envelope. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic corpus: group g gets tokens t0..t(card(g)-1), each
    * repeated 1 + (i % 3) times — duplicates must not move the sketch. */
  private def corpus(cards: Map[String, Int]): DataFrame =
    cards.toSeq.flatMap { case (g, card) =>
      (0 until card).flatMap { i =>
        Seq.fill(1 + i % 3)((g, s"tok_${g}_$i"))
      }
    }.toDF("grp", "w")

  /** Exact reference: DISTINCT hash + per-group unsigned rank — the
    * formulation the oracle uses (shuffles every distinct value; the agg
    * exists to avoid exactly this at scale). */
  private def reference(df: DataFrame, k: Int): Map[String, (Long, Long)] = {
    val h = st.mix64(st.fp64(col("w"), Int.MaxValue))
    // sign-bit flip: signed order of (h XOR MinValue) == unsigned order of h
    val d = df.select(col("grp"), h.as("h")).distinct()
      .withColumn("hf", col("h").bitwiseXOR(lit(Long.MinValue)))
    val w = Window.partitionBy("grp").orderBy("hf")
    d.withColumn("rnk", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("grp")))
      .where(col("rnk") === least(col("cnt"), lit(k)))
      .select(col("grp"), least(col("cnt"), lit(k)).cast("long").as("n_kept"),
        when(col("cnt") < k, col("cnt").cast("long"))
          .otherwise(st.kmvEst(col("h"), k)).as("est"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("kmvDistinct == exact distinct+rank reference, across partitionings") {
    val df = corpus(Map("a" -> 1000, "b" -> 50, "c" -> 128, "d" -> 129, "e" -> 1))
    val k = 128
    val want = reference(df, k)
    for (parts <- Seq(1, 7, 32)) {
      val got = Sketch.kmvDistinct(df.repartition(parts), col("grp"), col("w"), k)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("small groups are exact; estimate envelope on the big group") {
    val df = corpus(Map("big" -> 20000, "tiny" -> 5, "edge" -> 128))
    val got = Sketch.kmvDistinct(df, col("grp"), col("w"), k = 128)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("tiny") == ((5L, 5L)))    // < k → the sketch IS the set
    assert(got("edge")._1 == 128L)       // exactly k distinct → estimate path
    val est = got("big")._2.toDouble
    // standard error 1/sqrt(128) ~ 8.8%; allow 4 sigma on this fixed corpus
    assert(math.abs(est - 20000.0) / 20000.0 < 0.36, s"est=$est")
  }

  test("heavyHitters == exact GROUP BY/HAVING, tight sketch, across partitionings") {
    // zipf-ish: item i appears ceil(6000/(i+1)) times, 60 items; with
    // n ≈ 28k: h0 ≈ 21%, h1 ≈ 10.6%, h2 ≈ 7.1%, h3 ≈ 5.3%, tail < 4.3%
    val rows = (0 until 60).flatMap(i => Seq.fill((6000 + i) / (i + 1))(s"item_$i"))
    val df = rows.toDF("w")
    val n = rows.size.toLong
    def exact(ppm: Long) = rows.groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }
      .filter { case (_, c) => c * 1000000L >= n * ppm }.toSet
    // ppm 50000 (5%) needs sketchSize >= 20; use exactly 20 (tight) and 64
    for (k <- Seq(20, 64); parts <- Seq(1, 32)) {
      val got = Sketch.heavyHitters(df.repartition(parts), col("w"), k, 50000L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == exact(50000L), s"k=$k parts=$parts")
    }
    // higher bar: 15% — only the top item qualifies; minimal legal sketch
    val top = Sketch.heavyHitters(df.repartition(16), col("w"), 7, 150000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top == exact(150000L) && top.size == 1)
    // guardrail: a sketch too small for the threshold must throw loudly
    intercept[IllegalArgumentException] {
      Sketch.heavyHitters(df, col("w"), 9, 100000L)
    }
  }

  test("heavyHittersByKey == exact per-group GROUP BY/HAVING, tight sketch") {
    // group g: its own heavy item rules ~g·5% of the group, tail uniform
    val rows = (0 until 4).flatMap { g =>
      val heavy = Seq.fill(1000 + g * 700)(s"g$g" -> s"hot_$g")
      val tail = (0 until 40).flatMap(i => Seq.fill(100)(s"g$g" -> s"t${g}_$i"))
      heavy ++ tail
    }
    val df = rows.toDF("grp", "w")
    val exact = rows.groupBy(_._1).flatMap { case (g, xs) =>
      val n = xs.size.toLong
      xs.groupBy(_._2).collect { case (w, ys) if ys.size.toLong * 1000000L >= n * 150000L =>
        (g, w, ys.size.toLong)
      }
    }.toSet
    for (parts <- Seq(1, 16)) {
      val got = Sketch.heavyHittersByKey(df.repartition(parts), col("grp"), col("w"),
          sketchSize = 7, minPpm = 150000L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == exact, s"parts=$parts")
    }
    // the high-group-cardinality path (no broadcast hint; AQE picks the
    // join) must produce the identical exact output
    val noHint = Sketch.heavyHittersByKey(df, col("grp"), col("w"),
        sketchSize = 7, minPpm = 150000L, broadcastCandidates = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(noHint == exact)
    // groups differ: g0's hot item is ~20% of 5000 → in; check at least one
    // group has a winner and at least one group has none at a higher bar
    val high = Sketch.heavyHittersByKey(df, col("grp"), col("w"), 4, 280000L)
      .collect().map(r => r.getString(0)).toSet
    assert(high == rows.groupBy(_._1).collect { case (g, xs)
      if xs.groupBy(_._2).values.map(_.size).max.toLong * 1000000L >= xs.size.toLong * 280000L => g
    }.toSet)
  }

  test("Misra-Gries buffer holds at most k entries, after updates and after a merge") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 5
    val mg = graft.functions.MisraGries(BoundReference(0, StringType, nullable = true), k)
    def fill(keys: Seq[String]) =
      keys.foldLeft(mg.createAggregationBuffer())((b, s) => mg.update(b, InternalRow(UTF8String.fromString(s))))
    // "hot" is 35 of 90 items (> n/(k+1)): it must survive any eviction
    val a = fill((0 until 50).map(i => if (i % 2 == 0) "hot" else s"a$i"))
    val b = fill((0 until 40).map(i => if (i % 4 == 0) "hot" else s"b$i"))
    assert(a.size <= k && b.size <= k)
    val m = mg.merge(a, mg.deserialize(mg.serialize(b)))
    assert(m.size <= k)
    assert(m.containsKey("hot"))
  }

  test("kmvEst kernel: exact integer formula, clamp and cap") {
    // u = 2^63 → est = (k-1)*2 exactly
    assert(Kernels.kmvEst(Long.MinValue, 100) == 198L)
    // u = 1 → (k-1)·2^64 overflows → capped
    assert(Kernels.kmvEst(1L, 2) == Long.MaxValue)
    // u = 0 → clamped to 1 → capped
    assert(Kernels.kmvEst(0L, 2) == Long.MaxValue)
    // u = 2^64 - 1 (all ones) → est = k-1
    assert(Kernels.kmvEst(-1L, 512) == 511L)
  }
}
