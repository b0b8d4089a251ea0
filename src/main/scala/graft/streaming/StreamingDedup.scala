package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: the continuous-ingest analog of
  * [[graft.operators.Dedup.hammingPairs64]]. Every row's 64-bit signature is
  * split into the same pigeonhole blocks (maxHamming+1 contiguous blocks, so
  * any pair within the distance bound agrees exactly on ≥1 block); state is
  * keyed by (block, blockValue) and holds the bucket's recent (id, sig)
  * entries. A new arrival is compared against its bucket's entries and emits
  * a pair per near-duplicate found.
  *
  * Scale guardrails, mirroring the batch engine:
  *  - state per bucket is bounded TWICE: entries older than
  *    watermark − horizon are evicted (a viable partner for any admissible
  *    future event lies in [wm − horizon, ∞)), idle buckets are removed
  *    entirely once the watermark passes newest-entry + horizon
  *    (event-time timeout), and a `maxPerBucket` FIFO cap bounds the
  *    hot-bucket case — a boilerplate signature flood costs memory ∝ cap,
  *    not ∝ stream;
  *  - a pair agreeing on several blocks would emit once per block; instead
  *    it is emitted only by the FIRST agreeing block (computable from the
  *    two signatures alone), so the output carries each unordered pair
  *    exactly once with no second stateful dedup operator.
  *
  * Emission time: a pair is produced when its SECOND member arrives
  * (carrying that row's event time). Recall within the watermark horizon
  * equals the batch operator's (100% by pigeonhole construction) unless the
  * FIFO cap evicted a partner early — the cap trades recall for bounded
  * state exactly like the batch `maxBucket` drop, and like it is never
  * silent: pass a `droppedEntries` accumulator to observe cap evictions of
  * still-in-horizon entries (the streaming analog of `n_dropped_buckets`).
  */
object StreamingDedup {

  final case class SigEvent(band: Int, bv: Long, id: Long, sig: Long, ts: Timestamp)
  final case class BucketState(entries: List[(Long, Long, Long)]) // (id, sig, tsMillis), oldest first
  final case class NearDupPair(id_a: Long, id_b: Long, hamming: Long, ts: Timestamp)

  private def blockValue(sig: Long, off: Int, width: Int): Long =
    (sig >>> off) & (if (width == 64) -1L else (1L << width) - 1L)

  /** First block index on which the two signatures agree, or -1. */
  private def firstAgreeingBlock(a: Long, b: Long, layout: Array[(Int, Int)]): Int = {
    var i = 0
    while (i < layout.length) {
      val (off, w) = layout(i)
      if (blockValue(a, off, w) == blockValue(b, off, w)) return i
      i += 1
    }
    -1
  }

  /** df must carry `id` (long), `sig64` (long) and `eventTime` (timestamp)
    * columns; `watermark` is the lateness horizon (also the dedup window —
    * partners further apart than it may be missed). Returns a streaming
    * frame of (id_a, id_b, hamming, ts), id_a < id_b, each pair once. */
  def hammingPairsStream(
      df: DataFrame, id: Column, sig64: Column, eventTime: Column,
      watermark: String, maxHamming: Int = 3,
      maxPerBucket: Int = 1024,
      droppedEntries: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // the ONE block-layout definition, shared with the batch engine —
    // bucketing must match or the streaming pair set diverges from batch
    val layout = graft.operators.Dedup.pigeonholeLayout(maxHamming)
    // the pairing WINDOW is enforced on event-time distance at compare time:
    // Spark's watermark lags one micro-batch (it advances after a batch
    // completes), so state eviction alone would let a partner just past the
    // horizon still pair. Watermark eviction remains the state bound.
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    // month units are ambiguous (Spark's watermark-delay conversion differs
    // from any fixed days-per-month here) — require exact units so the
    // declared watermark IS the pairing window
    require(iv.months == 0, "hammingPairsStream: use day/hour/minute watermark units, not months")
    val horizonMs = iv.days * 86400000L + iv.microseconds / 1000L
    val spark = df.sparkSession
    import spark.implicits._

    // the watermark must be applied LAST: a typed .map (or any op that
    // rebuilds the schema) silently discards the event-time tag and
    // flatMapGroupsWithState then rejects the event-time timeout
    val events = df
      .select(id.cast("long").as("id"), sig64.cast("long").as("sig"),
        eventTime.cast("timestamp").as("ts"))
      .select(col("id"), col("sig"), col("ts"),
        posexplode(graft.operators.Dedup.bitBands(col("sig"), layout)).as(Seq("band", "bv")))
      .withWatermark("ts", watermark)
      .as[SigEvent]

    def update(key: (Int, Long), rows: Iterator[SigEvent],
        state: GroupState[BucketState]): Iterator[NearDupPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val wm = if (state.getCurrentWatermarkMs() > 0) state.getCurrentWatermarkMs() else 0L
      // a viable partner for any admissible future event (ts ≥ wm) lies in
      // [wm − horizon, ∞): evicting at the bare watermark would drop
      // partners still inside the documented pairing window
      val keepFrom = wm - horizonMs
      val dq = scala.collection.mutable.ArrayDeque.empty[(Long, Long, Long)] // oldest first
      var maxTs = 0L
      state.getOption.map(_.entries).getOrElse(Nil).foreach { e =>
        if (e._3 >= keepFrom) {
          dq.append(e)
          if (e._3 > maxTs) maxTs = e._3
        }
      }
      val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
      // iterator order within a micro-batch is not deterministic — sort so
      // intra-batch pair emission times are stable
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.id))
      sorted.foreach { e =>
        val et = e.ts.getTime
        dq.foreach { case (id0, sig0, ts0) =>
          if (id0 != e.id && math.abs(et - ts0) <= horizonMs) {
            val d = java.lang.Long.bitCount(e.sig ^ sig0)
            if (d <= maxHamming && firstAgreeingBlock(e.sig, sig0, layout) == e.band) {
              val (a, b) = if (id0 < e.id) (id0, e.id) else (e.id, id0)
              out += NearDupPair(a, b, d.toLong, e.ts)
            }
          }
        }
        dq.append((e.id, e.sig, et))
        if (et > maxTs) maxTs = et
        if (dq.size > maxPerBucket) {
          dq.removeHead()
          // every entry in dq already satisfies ts ≥ wm − horizon (the
          // keepFrom filter), so every cap eviction could still have paired
          // with an admissible late arrival — count unconditionally
          // (the batch engine's never-silent principle)
          droppedEntries.foreach(_.add(1L))
        }
      }
      state.update(BucketState(dq.toList))
      // the bucket is dead only once the watermark passes newest-entry +
      // horizon (before that an admissible event could still pair with it)
      state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm + 1L))
      out.iterator
    }

    events
      .groupByKey(e => (e.band, e.bv))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }
}
