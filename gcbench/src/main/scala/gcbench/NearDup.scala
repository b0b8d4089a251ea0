package gcbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{CacheTracker, Dedup}

/** LSH near-duplicate detection and closure: MinHash candidates, exact
  * Jaccard verification, connected components and keep-best-per-cluster,
  * over a seeded corpus with heavy-tailed planted clusters (the largest
  * above the 512-member chunk size) and chains of successive edits. */
final class NearDup(spark: SparkSession, seed: Long, scale: Double, inject: Boolean)
    extends Workload {
  val stepNames = Seq("minhashCandidates", "jaccardVerify", "keepBest")
  private val minJaccard = 0.6
  /** In-bucket pair chunk size. Buckets above it take the chunked pair
    * branch. The engine default is 512; a bucket that large means at least
    * 131k verified pairs and ~9 s per iteration at local[2], so the
    * workload runs the same branch at 128 with a ~200-member cluster. */
  private val chunkSize = 128
  val corpus: Gen.Corpus = Gen.corpus(seed,
    math.max(200, (2000 * scale).toInt), math.max(8, (200 * math.min(1.0, scale * 4)).toInt))
  def rows: Long = corpus.docs.size.toLong
  def digest: Long = Workload.hashOf(corpus.docs.map(_.text))
  private var docs: DataFrame = _

  def prepare(): Unit = {
    import spark.implicits._
    docs = cache(corpus.docs.map(d => (d.id, d.text, d.quality)).toDF("id", "text", "quality")
      .repartition(4))
  }
  def releaseInputs(): Unit = if (docs != null) docs.unpersist(blocking = true)

  // ---------------- expected summary ----------------

  private case class Summary(pairs: Long, pairFp: Long, dropped: Long, kept: Long, keptFp: Long)
  private var expected: Summary = _
  private var first: Summary = _
  private var keptMembers: Map[Long, Long] = Map.empty
  private var victim = -1L

  private def pairHash(a: Long, b: Long): Long = XXH64.hashLong(b, XXH64.hashLong(a, 42L))

  private def shingles(t: String): Set[String] = {
    val s = t.toLowerCase
    if (s.length < 4) Set(s) else (0 to s.length - 4).map(i => s.substring(i, i + 4)).toSet
  }

  /** Recomputes exact Jaccard of every pair the first iteration emitted
    * from plain string shingles, and its closure with a union-find over
    * those pairs. */
  def deepCheck(): Outcome = {
    val ver = lastVer
    val pairs = ver.select("id_a", "id_b", "jaccard", "n_dropped_buckets").collect()
    val sets = corpus.docs.map(d => d.id -> shingles(d.text)).toMap
    val badJ = pairs.count { r =>
      val (a, b) = (sets(r.getLong(0)), sets(r.getLong(1)))
      val inter = a.count(b.contains)
      val j = inter.toDouble / (a.size + b.size - inter)
      math.abs(j - r.getDouble(2)) > 1e-12 || j < minJaccard
    }
    // largest band bucket, recomputed from MinHash signatures: above the
    // chunk size it sends the candidate step down its chunked branch
    val biggest = corpus.clusters.head.ids.map { id =>
      graft.core.Kernels.minhashSig(corpus.docs(id.toInt).text, 4, 32).take(4).toSeq
    }.groupBy(identity).values.map(_.size).max
    System.err.println(s"[gcbench] largest band-0 bucket: $biggest docs (chunk size $chunkSize)")
    val dropped = if (pairs.isEmpty) 0L else pairs.map(_.getLong(3)).max
    // union-find over the emitted pairs
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val n = parent.getOrElse(y, y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val members = corpus.docs.groupBy(d => find(d.id))
    keptMembers = members.values.map { ms =>
      val best = ms.minBy(d => (-d.quality, d.id))
      best.id -> ms.size.toLong
    }.toMap
    val keptFp = keptMembers.foldLeft(0L) { case (x, (id, n)) => x ^ XXH64.hashLong(n, XXH64.hashLong(id, 42L)) }
    expected = Summary(pairs.length.toLong,
      pairs.foldLeft(0L)((x, r) => x ^ pairHash(r.getLong(0), r.getLong(1))), 0L,
      keptMembers.size.toLong, keptFp)
    victim = keptMembers.keys.min
    Outcome.all(
      Outcome.check(badJ == 0, s"$badJ emitted pairs fail the exact Jaccard recompute"),
      Outcome.check(dropped == 0, s"n_dropped_buckets = $dropped"),
      Outcome.check(pairs.nonEmpty, "no near-duplicate pairs emitted"),
      Outcome.check(first == expected,
        s"first iteration $first; pairs and union-find over its pairs give $expected"))
  }

  // ---------------- one iteration ----------------

  private var ops = OpCounts(0, 0)
  def lastOps: OpCounts = ops
  private var lastVer: DataFrame = _

  /** Candidates and verified pairs, persisted (both the pair checks and the
    * closure read them). */
  private def verified(tr: Trace): DataFrame = {
    val cands = stage(tr, "minhashCandidates",
      Dedup.minhashCandidates(docs, col("id"), col("text"), chunkSize = chunkSize))
    val ver = tr.span("jaccardVerify") {
      val v = Dedup.jaccardVerify(cands, docs, col("id"), col("text"), minJaccard = minJaccard)
        .persist(StorageLevel.MEMORY_AND_DISK)
      v.count()
      v
    }
    if (tr.enabled) ops = OpCounts(cands.count().toDouble, ver.count().toDouble)
    ver
  }

  private def keptFrame(ver: DataFrame): DataFrame = {
    val kept = Dedup.keepBest(docs, col("id"), col("quality"), ver, col("id_a"), col("id_b"))
    if (inject) kept.filter(col("id") =!= victim) else kept
  }

  /** keepBest, then count and fingerprint of the kept ids. The first
    * iteration also caches its kept rows: they serve the lookups. */
  private def closure(tr: Trace, ver: DataFrame): (Long, Long) = tr.span("keepBest") {
    val kept =
      if (expected != null) keptFrame(ver)
      else { lookupFrame = cache(keptFrame(ver).select("id", "n_members").coalesce(1)); lookupFrame }
    val r = kept.agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("n_members")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def iterate(tr: Trace): Outcome = {
    val ver = verified(tr)
    lastVer = ver
    val p = ver.agg(count(lit(1)), bit_xor(xxhash64(col("id_a"), col("id_b"))),
      max(col("n_dropped_buckets"))).head()
    val got = closure(tr, ver)
    val s = Summary(p.getLong(0), if (p.isNullAt(1)) 0L else p.getLong(1),
      if (p.isNullAt(2)) 0L else p.getLong(2), got._1, got._2)
    if (expected == null) { first = s; Outcome.Ok }
    else Outcome.check(s == expected, s"summary $s differs from the checked run $expected")
  }

  def cleanup(): Unit = {
    if (lastVer != null) { lastVer.unpersist(blocking = true); lastVer = null }
    unforce()
    CacheTracker.releaseAll()
  }

  // ---------------- lookups: is a doc kept, and with how many members ----------------

  private var lookupFrame: DataFrame = _
  private var keptIds: Array[Long] = Array.empty

  def lookupSetup(): Unit = keptIds = keptMembers.keys.toArray.sorted

  def lookup(rnd: Random): Outcome = {
    val id = if (rnd.nextBoolean()) keptIds(rnd.nextInt(keptIds.length))
      else corpus.docs(rnd.nextInt(corpus.docs.size)).id
    val got = lookupFrame.filter(col("id") === id).collect().map(_.getLong(1)).toSeq
    Outcome.check(got == keptMembers.get(id).toSeq, s"doc $id: kept $got, expected ${keptMembers.get(id)}")
  }

  def close(): Unit = {
    if (lookupFrame != null) lookupFrame.unpersist(blocking = true)
    releaseInputs()
  }
}
