package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard verification, embedding near-dup. All
  * deterministic (seeded hash families via splitmix64; no RNG at runtime)
  * and shuffle-lean: band-bucketing turns all-pairs similarity into
  * equi-joins.
  *
  * Scale guardrails (the 100-TB failure mode of LSH is the degenerate hot
  * bucket — boilerplate or empty documents sharing a signature):
  *  - every bucketed operator takes a `maxBucket` cap; buckets above it are
  *    dropped BEFORE their id lists are materialized (count-first, then
  *    collect), so a hot bucket can never OOM an executor;
  *  - drops are never silent: the candidate output carries an
  *    `n_dropped_buckets` metric column (0 in healthy runs — the DuckDB
  *    oracle asserts exactly that at gate scales). Known limitation: the
  *    metric rides on pair rows, so a corpus where EVERY candidate pair
  *    lives in dropped buckets yields an empty frame and the nonzero drop
  *    count is not observable from the output alone — the `bandedPairs`
  *    decision of a [[graft.obs]] record shows it as `nDropped`;
  *  - IN-cap buckets never concentrate work either: each bucket's members
  *    are collected once and split in place into chunk pairs by
  *    [[chunkPairRows]], so per-row pair volume is bounded by `chunkSize²`
  *    regardless of bucket size (a 64k-member in-cap bucket becomes
  *    C(128,2)+128 ≈ 8k chunk-pair rows spread across tasks, not one
  *    2·10⁹-pair row).
  *
  * These contracts live in ONE place, the private banded-candidate core
  * `bandedPairs` shared by MinHash ([[minhashCandidates]]), the
  * pigeonhole-Hamming engine ([[hammingPairs64]]) and the embedding
  * near-dup: it persists the signatures, counts the (band, hash)
  * histogram, applies the cap, generates the chunk pairs (spreading those
  * of buckets above the chunk size), returns each candidate pair once (the
  * cross-band dedup) and reports the drop count.
  * The families add only their signature, band values and verification.
  * `bucketStats`' precondition — counts taken over a persisted,
  * deterministic signature frame, since its driver-side drop count gates
  * which pairs survive — is met there, by the core owning the persist.
  * ([[decontaminateLarge]] keeps its own cross-side banding: its over-cap
  * buckets fail safe instead of being dropped.)
  */
object Dedup {

  /** Default side length of in-bucket pair chunks: 512² = 262k pairs per
    * exploded row (a few MB of (id, sig) structs), small enough that any
    * task's flatten buffer is trivially memory-safe. */
  val DefaultChunkSize = 512

  /** Size-ratio prefilter as an integer fraction num/RatioDen, shared with
    * the decontamination oracle (both engines embed the same integers, so
    * cross-engine parity never depends on this rounding). Nominally
    * num/100 ≤ minJ; for thresholds whose scaled product rounds UP in
    * double (e.g. 0.6·100 → exactly 60, though the real product is
    * 59.999…8) the fraction exceeds the double threshold by < 1 real ulp —
    * excluding a true pair through that sliver would need shingle-set
    * sizes ~2⁵¹, unreachable for text, so the prefilter is lossless on any
    * real corpus. */
  private[graft] val RatioDen = 100L
  private[graft] def ratioNum(minJ: Double): Long = math.floor(minJ * 100).toLong

  /** Chunk-pair rows for bounded in-bucket pair generation. `kept` carries
    * the `x` payload struct (id-first) of every member of each bucket.
    *
    * ONE aggregate collects each bucket's members, sorted by id; the bucket
    * row then expands in place. Its ⌈members / chunkSize⌉ chunks are
    * contiguous runs of the sorted list, and every chunk pair i ≤ j becomes
    * one row carrying chunk i (`__xa`) and, for i < j, chunk j (`__xb`;
    * empty for i = j, whose rows never read it). A bucket within
    * `chunkSize` gives its one (0, 0) row. Per-row pair volume is bounded by
    * chunkSize² independently of bucket size, and ordering by id preserves
    * the id_a < id_b orientation across chunks. */
  private[operators] def chunkPairRows(
      kept: DataFrame, keyCols: Seq[String], chunkSize: Int): DataFrame = {
    val keyC = keyCols.map(col)
    val (i, j) = (col("__ck.i"), col("__ck.j"))
    val last = s"int((size(xs) - 1) div $chunkSize)"
    def chunk(k: Column): Column = slice(col("xs"), k * chunkSize + 1, lit(chunkSize))
    kept.groupBy(keyC: _*)
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .withColumn("__ck", explode(expr(
        s"flatten(transform(sequence(0, $last), i -> transform(sequence(i, $last), j -> struct(i, j))))")))
      .select(keyC ++ Seq(i.as("__cka"), j.as("__ckb"), chunk(i).as("__xa"),
        when(i < j, chunk(j)).otherwise(slice(col("xs"), 1, 0)).as("__xb")): _*)
  }

  /** One bounded action over the (band, hash) histogram: the number of
    * over-cap (dropped) buckets and the largest in-cap bucket. Drives two
    * runtime plan choices that a lazy plan cannot make: (a) plan the
    * exchange that spreads multi-chunk rows only when some in-cap bucket
    * exceeds the chunk size (the common shape has none), and (b) attach
    * `n_dropped_buckets` as a literal instead of a broadcast cross-join.
    * The extra pass re-runs one map-side-combined count aggregation over
    * cached signatures — a few percent of the operator's cost at any scale.
    *
    * Precondition: `counts` must derive from a PERSISTED, deterministic
    * signature frame. `nDropped` is frozen driver-side and gates
    * correctness — `nDropped == 0` enables the first-agreeing-band dedup —
    * so a recompute that disagreed with it would lose pairs while reporting
    * no drops (`maxInCap` only decides whether the spread is planned).
    * [[bandedPairs]], its only caller, meets it by owning the persist. */
  private def bucketStats(counts: DataFrame, maxBucket: Int): (Long, Long) = {
    val r = counts.agg(
      count(when(col("__bn") > maxBucket, 1)).as("nd"),
      max(when(col("__bn") <= maxBucket, col("__bn"))).as("mx")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** THE banded-candidate core of the LSH family ([[minhashCandidates]],
    * [[hammingPairs64]], [[embeddingNearDup]]): persist the signature frame
    * `sigs` (columns `id` and `key`, plus anything the caller joins back),
    * explode `bandsOf(key)` (one value per band) into (band, bh) buckets,
    * count the histogram, cap it at `maxBucket`, pair each in-cap bucket's
    * (id, key) structs through [[chunkPairRows]] and dedup across bands.
    * Returns the candidate pairs (id_a, id_b, n_bands_matched, a, b) — a
    * and b the two (id, key) structs, id_a < id_b, EACH PAIR ONCE — the
    * number of dropped buckets, and the persisted frame for the caller's
    * verify joins. The drop count, largest in-cap bucket, whether no row
    * was spread (`smallOnly`) and the dedup mode are reported as an `obs`
    * decision.
    *
    * Spread: the chunk-pair rows of buckets above `chunkSize` are
    * hash-redistributed on (band, bh, chunk i, chunk j), so one large
    * bucket's pair explode runs across tasks; single-chunk rows stay where
    * the aggregate put them. The exchange is planned only when
    * [[bucketStats]] saw an in-cap bucket above `chunkSize`; the buckets
    * are then split on their histogram count before the aggregate, so each
    * is still collected once. (Filtering one aggregate's output twice
    * instead relies on Spark reusing its exchange; for q21's MinHash frame
    * at sf0.1 it did not, and the aggregate's map side ran twice.)
    *
    * Cross-band dedup: when NO bucket was dropped (known driver-side; the
    * overwhelmingly common shape), every agreeing band's bucket is present,
    * so a pair is kept ONLY in its FIRST agreeing band — a per-row
    * predicate on a.key and b.key (the StreamingDedup rule), no shuffle.
    * With drops, a pair's first agreeing band may be the dropped one while
    * a later band survived, so the pairs are deduplicated on (id_a, id_b)
    * instead. `n_bands_matched` is the number of bands on which a.key and
    * b.key agree, computed per row: without drops it equals the number of
    * buckets the pair shares; with drops it also counts agreeing bands
    * whose bucket was dropped. Both predicates are unrolled column
    * expressions (codegen'd), not higher-order lambdas.
    *
    * Payloads stay skinny (the id and the banding key: a 64-bit signature,
    * or MinHash's 8 band hashes): wide values such as the full MinHash
    * signature or an embedding join back onto the pair set instead of
    * riding every bucket's shuffle. */
  private[operators] def bandedPairs(
      sigs: DataFrame, key: String, bandsOf: Column => Seq[Column],
      maxBucket: Int, chunkSize: Int): (DataFrame, Long, DataFrame) = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val persisted = CacheTracker.register(
      sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = persisted.select(col("id"), col(key),
      posexplode(array(bandsOf(col(key)): _*)).as(Seq("band", "bh")))
    // count first: the (band, bh) histogram decides which buckets survive
    // the cap, so the oversized buckets never reach collect_list
    val counts = banded.groupBy("band", "bh").agg(count(lit(1)).as("__bn"))
    val (nDropped, maxInCap) = bucketStats(counts, maxBucket)
    val kept = banded
      .join(counts.filter(col("__bn") <= maxBucket && col("__bn") > 1), Seq("band", "bh"))
      .select(col("band"), col("bh"), col("__bn"), struct(col("id"), col(key)).as("x"))
    def pairRows(k: DataFrame): DataFrame = chunkPairRows(k, Seq("band", "bh"), chunkSize)
    val smallOnly = maxInCap <= chunkSize
    val spread = if (smallOnly) pairRows(kept) else {
      val multi = col("__bn") > chunkSize
      pairRows(kept.filter(!multi)).unionByName(pairRows(kept.filter(multi))
        .repartition(col("band"), col("bh"), col("__cka"), col("__ckb")))
    }
    // each unordered pair once per bucket: intra-chunk rows give the strict
    // upper triangle, inter-chunk rows the full cross product
    val agree = bandsOf(col(s"a.$key")).zip(bandsOf(col(s"b.$key"))).map { case (x, y) => x === y }
    val pairs = spread
      .select(col("band"), explode(when(col("__cka") === col("__ckb"),
          expr(
            """flatten(transform(__xa, (x, i) ->
              |  transform(slice(__xa, i + 2, size(__xa) - i - 1), y -> struct(x AS a, y AS b))))""".stripMargin))
        .otherwise(
          expr("flatten(transform(__xa, x -> transform(__xb, y -> struct(x AS a, y AS b))))"))).as("p"))
      .select(col("band"), col("p.a").as("a"), col("p.b").as("b"))
      .select(col("band"), col("a.id").as("id_a"), col("b.id").as("id_b"),
        agree.map(when(_, 1L).otherwise(0L)).reduce(_ + _).as("n_bands_matched"),
        col("a"), col("b"))
    val once =
      if (nDropped == 0) {
        val firstAgree = agree.zipWithIndex.foldRight(lit(-1): Column) { case ((eq, i), els) =>
          when(eq, lit(i)).otherwise(els)
        }
        pairs.filter(col("band") === firstAgree)
      } else pairs.dropDuplicates("id_a", "id_b")
    graft.obs.decision("bandedPairs", "nDropped" -> nDropped, "maxInCap" -> maxInCap,
      "smallOnly" -> smallOnly, "dedup" -> (if (nDropped == 0) "first-band" else "dropDuplicates"))
    (once.drop("band"), nDropped, persisted)
  }

  /** Bits [off, off + width) of a 64-bit signature, for each (off, width)
    * of `layout` — the band values of [[graft.streaming.StreamingDedup]];
    * the batch families hand [[bitBand]] to [[bandedPairs]]. */
  private[graft] def bitBands(sig: Column, layout: Seq[(Int, Int)]): Column =
    array(layout.map(bitBand(sig, _)): _*)

  private[operators] def bitBand(sig: Column, band: (Int, Int)): Column = {
    val (off, w) = band
    shiftrightunsigned(sig, off).bitwiseAND(lit(if (w == 64) -1L else (1L << w) - 1L))
  }

  /** Exact dedup on a content column: keeps the first row (min of `keep`)
    * per distinct content hash. Map-side partial aggregation; one shuffle. */
  def exact(df: DataFrame, content: Column, keep: Column): DataFrame = {
    df.withColumn("__h", md5(content.cast("binary")))
      .groupBy(col("__h"))
      .agg(min(keep).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")
  }

  /** Streaming exact dedup-on-ingest: drop any row whose content hash was
    * already seen within the watermark horizon. State is keyed by the
    * 128-bit content hash and BOUNDED by event time
    * (`dropDuplicatesWithinWatermark`) — the scale requirement for a
    * continuously-ingesting 100-TB pipeline, where a plain streaming
    * `dropDuplicates` accumulates unbounded state. First-seen row wins
    * (per-key earliest arrival within the horizon).
    */
  def exactStreaming(
      df: DataFrame, content: Column,
      eventTime: String, watermark: String): DataFrame = {
    require(!df.columns.contains("__content_h"),
      "input must not carry a '__content_h' column (used internally)")
    df.withColumn("__content_h", md5(content.cast("binary")))
      .withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark("__content_h")
      .drop("__content_h")
  }

  /** Character shingles of length n → array column (lowercased). */
  def shingles(text: Column, n: Int): Column = {
    // sliding n-grams via sequence + substring: codegen'd builtins only
    val t = lower(text)
    filter(
      transform(
        sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
        i => t.substr(i, lit(n))),
      s => length(s) === n)
  }

  /** MinHash signature (`perms` values) over character shingles — one pass
    * via the MinHashSig kernel expression (the declarative per-permutation
    * formulation re-inlines the shingle subtree `perms` times under
    * CollapseProject and is ~100× slower at scale). */
  def minhash(text: Column, shingleLen: Int, perms: Int): Column =
    graft.functions.st.minhashSig(text, shingleLen, perms)

  /** MinHash LSH candidate pairs: signatures banded `bands`×`rowsPerBand`;
    * equal band-hash ⇒ candidate. Returns (id_a, id_b, n_bands_matched,
    * sig_frac, n_dropped_buckets) with id_a < id_b. One shuffle on band
    * hash; no all-pairs compare.
    *
    * `maxBucket` bounds the per-(band,hash) bucket size: the count is
    * aggregated first and oversized buckets are filtered before any
    * `collect_list` runs, so a degenerate hot bucket (e.g. millions of
    * identical boilerplate docs) costs one counted row, not an OOM. The
    * number of dropped buckets is joined onto every output row as
    * `n_dropped_buckets` (no silent caps).
    */
  def minhashCandidates(
      df: DataFrame, id: Column, text: Column,
      shingleLen: Int = 4, bands: Int = 8, rowsPerBand: Int = 4,
      minBands: Int = 2, minSigFrac: Double = 0.35,
      maxBucket: Int = 4096, chunkSize: Int = DefaultChunkSize): DataFrame = {
    val perms = bands * rowsPerBand
    // the persisted signature frame feeds the banding plus the two estimate
    // joins, so the per-doc MinHash kernel runs once. Its 8 band hashes
    // (64 B) ride the bucket struct, so the cross-band dedup and
    // n_bands_matched are per-row predicates, not a shuffle of every bucket
    // pair. (A/B rejected carrying the whole 32-long signature there: it
    // rides the (band, bh) shuffle bands× per doc — ~3× the shuffled bytes
    // of the skinny banding + two sig joins, and measurably slower at sf0.1.)
    val (pairs, nDropped, sig) = bandedPairs(
      df.select(id.as("id"), minhash(text, shingleLen, perms).as("sig"))
        .withColumn("bhs", bandHashArray(col("sig"), bands, rowsPerBand)),
      "bhs", bhs => (0 until bands).map(bhs.getItem(_)), maxBucket, chunkSize)
    // pass 1: require >= minBands matching bands (cuts the false-positive
    // tail an order of magnitude on overlapping corpora)
    // pass 2: cheap jaccard estimate from full signatures (32 comparisons)
    // before the expensive exact shingle-set verification
    pairs.filter(col("n_bands_matched") >= minBands)
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("sig_frac",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
          .cast("double") / perms.toDouble)
      .filter(col("sig_frac") >= minSigFrac)
      .select("id_a", "id_b", "n_bands_matched", "sig_frac")
      .withColumn("n_dropped_buckets", lit(nDropped))
  }

  /** Exact n-gram Jaccard for candidate pairs (verification pass after LSH):
    * |A∩B| / |A∪B| over distinct hashed shingle sets — sorted long arrays +
    * merge intersection kernel (string-array intersect/union was the q21
    * bottleneck: ~100× slower). */
  def jaccardVerify(
      candidates: DataFrame, // (id_a, id_b, ...)
      docs: DataFrame, id: Column, text: Column,
      shingleLen: Int = 4, minJaccard: Double = 0.7): DataFrame = {
    import graft.functions.st
    // r6 A/B-REJECTED alternative: suspects-only shingles (distinct
    // candidate ids → semi-join → shingle only survivors, both frames
    // persisted — the decontaminateLarge verify shape). Measured q21
    // 2.14 → 4.50 s min-of-3 at sf0.1: the extra distinct + semi-join +
    // two cache materialization barriers cost more than the two streamed
    // corpus shingle scans they replace (the candidate side broadcasts, so
    // each scan is one map-side stage). Do not retry without re-measuring.
    val sh = docs.select(id.as("__id"), st.shingleHashes(text, shingleLen).as("__sh"))
    candidates
      .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .withColumn("jaccard", st.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .drop("sh_a", "sh_b")
  }

  /** Eval-set decontamination: drop every corpus row whose n-gram Jaccard
    * vs ANY eval document reaches `minJaccard` — the standard benchmark-
    * decontamination pass of a training pipeline. An eval set is
    * benchmark-sized (≪ corpus), so the right plan is a broadcast
    * nested-loop ANTI join: eval shingle sets broadcast once, the corpus
    * scanned once map-side with the lossless size-ratio prefilter
    * (J ≥ t ⇒ |A|/|B| ∈ [t, 1/t]) ahead of the exact sorted-merge Jaccard
    * kernel — NO shuffle of the corpus at any point. For eval sets too
    * large to broadcast, use [[decontaminateLarge]] (LSH candidate path,
    * identical verification). */
  def decontaminate(
      corpus: DataFrame, text: Column,
      evalDf: DataFrame, evalText: Column,
      shingleLen: Int = 4, minJaccard: Double = 0.6): DataFrame = {
    import graft.functions.st
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    require(!corpus.columns.contains("__sh") && !corpus.columns.contains("__esh"),
      "corpus must not carry '__sh'/'__esh' columns (used internally)")
    // integer ratio prefilter: num/den ≤ minJaccard keeps it LOSSLESS
    // (never excludes a true pair); the oracle embeds the same integers
    val den = RatioDen
    val num = ratioNum(minJaccard)
    val ev = broadcast(evalDf.select(st.shingleHashes(evalText, shingleLen).as("__esh")))
    val sized = corpus.withColumn("__sh", st.shingleHashes(text, shingleLen))
    val cond =
      size(col("__sh")).cast("long") * den >= size(col("__esh")).cast("long") * num &&
      size(col("__esh")).cast("long") * den >= size(col("__sh")).cast("long") * num &&
      st.jaccardSorted(col("__sh"), col("__esh")) >= minJaccard
    sized.join(ev, cond, "left_anti").drop("__sh")
  }

  /** Per-signature band hashes: band b = xxhash64 over sig rows
    * [b·rowsPerBand, (b+1)·rowsPerBand) — ONE definition shared by
    * [[minhashCandidates]] and [[decontaminateLarge]]. */
  private def bandHashArray(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*))
    }: _*)

  /** LSH-path eval-set decontamination for eval sets too large to
    * broadcast — the at-scale fallback [[decontaminate]] documents. Both
    * sides are MinHash-banded; candidates are the CROSS-SIDE band-bucket
    * matches (an equi-join on (band, hash) — deliberately not the
    * corpus∪eval self-pair generator, whose volume would be dominated by
    * corpus-corpus pairs this operator never needs); candidates are then
    * verified with the SAME lossless size-ratio prefilter + exact
    * sorted-merge Jaccard as [[decontaminate]], and verified corpus ids are
    * anti-joined away.
    *
    * Scale shape: two corpus scans (band pass; shingle pass over candidate
    * suspects only, reached through a semi-join that broadcasts when the
    * candidate id set is small — the healthy case), one shuffle on (band,
    * hash). Unlike [[decontaminate]]'s mandatory broadcast NL, nothing
    * here REQUIRES an eval broadcast: the candidate join is an equi-join
    * that degrades to sort-merge when the eval side exceeds broadcast
    * thresholds (AQE may still choose a broadcast-hash for a small eval —
    * an optimization, not a requirement). Per-corpus-row join fan-out is
    * bounded by bands × maxEvalBucket.
    *
    * Semantics vs [[decontaminate]]: identical verification; candidate
    * recall is the LSH curve 1−(1−s^rowsPerBand)^bands (near-1 at the
    * contamination similarities that matter — equality on the gate corpus
    * is spec-pinned). Oversized eval buckets (> maxEvalBucket members
    * sharing a band hash — degenerate boilerplate) fail SAFE: every corpus
    * row hitting one is dropped outright. Decontamination may over-drop;
    * it must never silently under-drop. */
  def decontaminateLarge(
      corpus: DataFrame, id: Column, text: Column,
      evalDf: DataFrame, evalText: Column,
      shingleLen: Int = 4, minJaccard: Double = 0.6,
      bands: Int = 8, rowsPerBand: Int = 4,
      maxEvalBucket: Int = 4096): DataFrame = {
    import graft.functions.st
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    require(bands >= 1 && rowsPerBand >= 1 && maxEvalBucket >= 1,
      "bands, rowsPerBand, maxEvalBucket must be >= 1")
    require(!corpus.columns.contains("__cid"),
      "corpus must not carry a '__cid' column (used internally)")
    val perms = bands * rowsPerBand
    val cBand = corpus.select(id.as("__cid"),
      posexplode(bandHashArray(minhash(text, shingleLen, perms), bands, rowsPerBand))
        .as(Seq("band", "bh")))
    // eval key = content hash: requires no caller-supplied id, and identical
    // eval texts collapse to one verification row. The eval side is read by
    // four consumers (band pass ×2 branches, bucket counts, shingle frame) —
    // persist it (eval is big enough to forbid broadcast, small enough to
    // cache; the alternative re-scans the eval source and re-runs the
    // MinHash kernel per consumer)
    // dedup on the TEXT, not the hash: a 64-bit collision between two
    // distinct eval texts would silently discard one — an under-drop, the
    // exact failure the operator's invariant forbids. Colliding distinct
    // texts sharing an __eid downstream only widen the verify join (each
    // suspect checks against both texts — over-check, never under-drop).
    val eKeyed = evalDf.select(xxhash64(evalText.cast("string")).as("__eid"),
      evalText.as("__etext")).dropDuplicates("__etext")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheTracker.register(eKeyed)
    val eBand = eKeyed.select(col("__eid"),
      posexplode(bandHashArray(minhash(col("__etext"), shingleLen, perms), bands, rowsPerBand))
        .as(Seq("band", "bh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheTracker.register(eBand)
    val eCounts = eBand.groupBy("band", "bh").agg(count(lit(1)).as("__en"))
    // ONE eval-side frame: in-cap buckets keep their members; an oversized
    // bucket (degenerate boilerplate) collapses to a single flagged row —
    // membership is all the fail-safe drop needs (corpus rows touching it
    // are dropped without verification: over-drop, never silent under-drop),
    // and the collapse bounds the join fan-out at the cap
    val evalSide = eBand
      .join(eCounts.filter(col("__en") <= maxEvalBucket).select("band", "bh"),
        Seq("band", "bh"), "left_semi")
      .select(col("band"), col("bh"), col("__eid"), lit(false).as("__over"))
      .unionByName(eCounts.filter(col("__en") > maxEvalBucket)
        .select(col("band"), col("bh"), lit(null).cast("long").as("__eid"),
          lit(true).as("__over")))
    // ONE (band, hash) shuffle join against the single corpus band pass;
    // the candidate frame is small (persisted — it feeds the suspect
    // semi-join AND the verify join, and must not re-run the band join)
    val cands = cBand.join(evalSide, Seq("band", "bh"))
      .select("__cid", "__eid", "__over").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheTracker.register(cands)
    // exact verify on suspects only: shingles computed after the semi-join,
    // so the full corpus never shuffles its text for verification (no
    // distinct on the build side — left_semi never multiplies rows)
    val suspects = corpus
      .join(cands.select("__cid"), id === col("__cid"), "left_semi")
    val sSh = suspects.select(id.as("__cid"),
      st.shingleHashes(text, shingleLen).as("__sh"))
    val eSh = eKeyed.select(col("__eid"),
      st.shingleHashes(col("__etext"), shingleLen).as("__esh"))
    val den = RatioDen
    val num = ratioNum(minJaccard)
    // flagged (oversized-bucket) rows pass unconditionally; the left join
    // keeps their null __eid
    val bad = cands
      .join(sSh, "__cid")
      .join(eSh, Seq("__eid"), "left")
      .filter(col("__over") || (
        size(col("__sh")).cast("long") * den >= size(col("__esh")).cast("long") * num &&
        size(col("__esh")).cast("long") * den >= size(col("__sh")).cast("long") * num &&
        st.jaccardSorted(col("__sh"), col("__esh")) >= minJaccard))
      .select("__cid") // no distinct: left_anti below never multiplies rows
    corpus.join(bad, id === col("__cid"), "left_anti")
  }

  /** Contamination REPORT: per eval document, how many corpus rows reach
    * `minJaccard` against it — the audit twin of [[decontaminate]] (which
    * benchmarks leaked? how badly?), same broadcast + one-corpus-pass plan
    * shape but an INNER join + per-eval count; zero-hit eval rows are kept
    * (count 0) via a final join against the tiny eval frame. Returns
    * (eval_id, n_hits). */
  def contaminationReport(
      corpus: DataFrame, text: Column,
      evalDf: DataFrame, evalId: Column, evalText: Column,
      shingleLen: Int = 4, minJaccard: Double = 0.6): DataFrame = {
    import graft.functions.st
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    val den = RatioDen
    val num = ratioNum(minJaccard)
    val ev = broadcast(evalDf.select(evalId.as("eval_id"),
      st.shingleHashes(evalText, shingleLen).as("__esh")))
    val sized = corpus.select(st.shingleHashes(text, shingleLen).as("__sh"))
    val cond =
      size(col("__sh")).cast("long") * den >= size(col("__esh")).cast("long") * num &&
      size(col("__esh")).cast("long") * den >= size(col("__sh")).cast("long") * num &&
      st.jaccardSorted(col("__sh"), col("__esh")) >= minJaccard
    val hits = sized.join(ev, cond).groupBy("eval_id").agg(count(lit(1)).as("__hits"))
    evalDf.select(evalId.as("eval_id"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), coalesce(col("__hits"), lit(0L)).as("n_hits"))
  }

  /** Connected components over an undirected pair list — the transitive
    * closure every dedup pipeline needs between "near-dup PAIRS" and "keep
    * one row per GROUP" (dropping id_b of each pair over-deletes chains).
    * Returns (id, comp) for every id appearing in the pairs; comp = the
    * component's minimum id, so the canonical keep-set is `comp === id`.
    *
    * Algorithm: min-label propagation with pointer jumping — each pass
    * sends every node's label to its neighbors, takes the min, then
    * follows the resulting label to ITS label (the Hash-to-Min shortcut),
    * two bounded shuffles per pass. Where ids grow along the graph,
    * known-distance doubles per pass, so convergence takes O(log diameter)
    * passes (a 200-node ordered chain converges in ~8, spec-pinned); in
    * general it does not: the 150-node permuted-id path of `DedupAnnSpec`
    * spends all [[MaxLabelPasses]] passes. Min is associative and labels
    * only decrease, so the result is partition-invariant and deterministic.
    * Convergence is detected by the strictly-decreasing label sum (exact
    * DECIMAL(38) — overflow-safe at any id scale, one tiny aggregate action
    * per pass).
    *
    * The fallback bounds the cost: after [[MaxLabelPasses]] passes without
    * convergence (a stringy graph whose ids do not grow along it, or a
    * diameter beyond ≈ 2^10) the labels are dropped and star contraction
    * ([[connectedComponentsStar]]) computes the components instead — the
    * same labels, so a pipeline never dies on an unexpectedly stringy graph
    * and never returns a partial closure.
    * Reports its label passes, per-pass ms and whether (and for how many
    * rounds) the star fallback ran as an `obs` decision. */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column): DataFrame = {
    val (labels, converged, passMs) = labelPropagation(pairs, a, b)
    val (out, starRounds) =
      if (converged) (CacheTracker.register(labels), 0)
      else { labels.unpersist(); connectedComponentsStar(pairs, a, b) }
    graft.obs.decision("connectedComponents", "labelPasses" -> passMs.length,
      "passMs" -> passMs, "star" -> !converged, "starRounds" -> starRounds)
    out
  }

  /** Label passes before [[connectedComponents]] falls back to star
    * contraction. Measured on the gated queries: q39 converges in 1 pass,
    * q46 in 8, q48/q64 in 2 at sf0.01 and 8 at sf0.1. */
  private[operators] val MaxLabelPasses = 10

  /** The pointer-jumping min-label loop of [[connectedComponents]]: returns
    * (labels, converged, ms of each pass). Each pass's labels are truncated
    * with `localCheckpoint`, which keeps the blocks in executor storage only: it
    * does not survive the loss of an executor holding them (the truncated
    * plan has no lineage to recompute from), so such a loss fails the
    * query instead of recomputing the lost labels. */
  private def labelPropagation(
      pairs: DataFrame, a: Column, b: Column): (DataFrame, Boolean, Vector[Long]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist the edge projection BEFORE the symmetric union: both union
    // branches read it, and without the cache the (possibly expensive)
    // upstream pair pipeline would run twice
    val e = pairs.select(a.cast("long").as("src"), b.cast("long").as("dst"))
      .persist(lvl)
    CacheTracker.register(e)
    // size the cached edge frame to the data: every propagation pass scans
    // it, and a small dedup graph cached as `spark.sql.shuffle.partitions`
    // near-empty blocks pays that many task launches per pass per scan. The
    // count is one cheap action on the already-persisted projection; at
    // scale (≥ ~500k edges/partition) this keeps the session's parallelism.
    val nEdges = e.count()
    val parts = math.max(1L, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism.toLong,
      nEdges / 500000L + 1L)).toInt
    val bidir = e.coalesce(parts)
      .unionByName(e.coalesce(parts).select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    CacheTracker.register(bidir)
    // labels MUST truncate lineage each pass (localCheckpoint, not persist):
    // caching short-circuits recompute but the logical plan still nests one
    // join+union+agg level per pass — by ~10 passes the plan tree (and its
    // EXPLAIN string inside AQE) grows exponentially and OOMs the driver.
    // Checkpoints are LAZY (eager = false): the plan still truncates to a
    // LogicalRDD immediately (so the nesting OOM stays designed out and the
    // self-join below shares ONE physical RDD — not the A/B-rejected
    // uncheckpointed shared-plan, whose aggregate ran once per join side),
    // but materialization folds into the pass's single labelSum action
    // instead of paying a separate driver job per checkpoint — one job per
    // pass, not three (A/B min-of-3 at sf0.1: q48 6.03 → 5.61 s, q57/q58
    // bpe rounds −0.2 s each from the same change; q39/q46 within noise).
    // Initialization fuses the first propagation pass: comp₁(v) =
    // min(v, min neighbor) is exactly pass 1 over comp₀ = id, and the
    // groupBy doubles as the distinct-nodes scan — one shuffle saved.
    var labels = bidir.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .withColumnRenamed("src", "id").localCheckpoint(false)
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val r = l.agg(sum(col("comp").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // in-loop the sum comparison is exact: comp values are element-wise
    // non-increasing, so equal sums ⟺ no label changed. Only the empty
    // graph needs a separate check (its sum is vacuously stable).
    var prevSum = labelSum(labels)
    val passMs = Vector.newBuilder[Long]
    var iter = 0
    var converged = nEdges == 0L
    while (!converged && iter < MaxLabelPasses) {
      val t0 = System.nanoTime()
      val msgs = bidir.as("e").join(labels.as("l"), col("e.src") === col("l.id"))
        .select(col("e.dst").as("id"), col("l.comp"))
      val stepped = labels.unionByName(msgs)
        .groupBy("id").agg(min("comp").as("comp")).localCheckpoint(false)
      // pointer jump (the Hash-to-Min shortcut): follow each label to ITS
      // label — where ids grow along the graph, known-distance doubles per
      // pass (O(log diameter) passes, not O(diameter)). comp values are
      // same-component node ids and only ever decrease, so the min-label
      // fixpoint — and the sum-based convergence test — are unchanged.
      // Every comp IS a node id present in `stepped`; the left join +
      // coalesce only guards the theoretical miss. `stepped` is
      // checkpointed before the self-join: the A/B against an
      // uncheckpointed shared plan measured SLOWER (the aggregate executes
      // once per join side and AQE replans the deeper DAG), so the
      // shortcut costs one label-frame join per pass — bought back
      // severalfold by the halved pass count.
      // r6 A/B-REJECTED: a DOUBLE pointer jump per pass did not reduce the
      // pass count on the real dedup graphs (the convergence tail is
      // gather-hop-bound — the last few minima spread one hop per message
      // pass along non-tree edges, which jumping cannot shortcut) and
      // raised per-pass cost 0.33 → 0.47 s. Do not retry.
      val ptr = stepped.select(col("id").as("__pid"), col("comp").as("__pcomp"))
      val next = stepped
        .join(ptr, col("comp") === col("__pid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__pcomp"), col("comp"))).as("comp"))
        .localCheckpoint(false)
      // unpersist() on a lazily local-checkpointed frame is best effort (a
      // no-op today): the ContextCleaner reclaims the checkpoint blocks
      // once the frame is unreachable. It must stay that way here — the
      // labelSum action below is what materializes `next`, and it still
      // reads `stepped`'s checkpoint blocks, which have no lineage to
      // recompute from.
      stepped.unpersist()
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      passMs += (System.nanoTime() - t0) / 1000000L
      iter += 1
    }
    (labels, converged, passMs.result())
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR contraction
    * — [[connectedComponents]]' O(log²)-round fallback for graphs whose
    * diameter defeats label propagation (a 10⁶-node path converges in ~20
    * rounds here). Returns (id, comp) for every id in the pairs, comp =
    * component minimum, and the number of rounds.
    *
    * Each round, over canonical edges (u, v) with u > v:
    *  - large-star: every node u attaches all STRICTLY LARGER neighbors to
    *    m = min(N(u) ∪ {u}) — preserves connectivity, hangs big nodes off
    *    local minima;
    *  - small-star: every node u attaches its (all smaller) neighbors and
    *    itself to its minimum neighbor — flattens chains into stars.
    * Both are one groupBy + one join shuffle; edges `localCheckpoint` per
    * round (the per-pass plan-nesting OOM is designed out, as in label
    * propagation). Convergence is the fixpoint of both stars, checked
    * EXACTLY: the edge set is a star forest iff no edge target is also a
    * source and every source has exactly one target — two cheap probe
    * actions, no inexact checksum. THROWS after 50 rounds without
    * convergence. */
  private[operators] def connectedComponentsStar(
      pairs: DataFrame, a: Column, b: Column): (DataFrame, Int) = {
    val maxRounds = 50
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = pairs.select(a.cast("long").as("u"), b.cast("long").as("v")).persist(lvl)
    CacheTracker.register(raw)
    val nodes = raw.select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .persist(lvl)
    CacheTracker.register(nodes)
    // cheap check first (one shuffle, no join): unconverged rounds almost
    // always have a multi-target source, so most rounds pay 1 probe not 2
    def isStarForest(e: DataFrame): Boolean = {
      val multiTarget = e.groupBy("u").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count() > 0
      !multiTarget &&
        e.select(col("v").as("u")).distinct()
          .join(e.select("u").distinct(), Seq("u"), "left_semi")
          .limit(1).count() == 0
    }
    // lazy checkpoints here too: the round's first isStarForest probe
    // materializes the round's edge set — no separate checkpoint job
    var edges = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(false)
    var iter = 0
    var converged = isStarForest(edges)
    while (!converged && iter < maxRounds) {
      // large-star over the bidirected view: m ≤ u < v ⇒ (v, m) is already
      // canonical and never a self-loop
      val bidir = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val large = bidir.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on canonical edges: all of N(u) is smaller than u, so
      // m = min neighbor; attach u and every neighbor ≠ m to m. `large`
      // is NOT separately checkpointed: both of its consumers sit in the
      // ONE `next` plan (its distinct's exchange is reused), rooted at the
      // checkpointed `edges` — one materialization per round, and lineage
      // still truncates at `next`
      val sm = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = large.join(sm, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(sm.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint(false)
      edges.unpersist()
      edges = next
      converged = isStarForest(edges)
      iter += 1
    }
    require(converged, s"connectedComponentsStar: not converged after $maxRounds rounds")
    val labels = nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("comp"))
      .persist(lvl)
    (CacheTracker.register(labels), iter)
  }

  /** Canonical-representative selection — the keep-set step completing the
    * dedup chain pairs → groups → KEEP: given near-dup `pairs` over document
    * ids, group them into clusters (transitive closure via
    * [[connectedComponents]]) and keep exactly ONE document per cluster —
    * the highest `quality`, ties broken by lowest id. Documents appearing
    * in no pair are their own cluster and are always kept. Returns one row
    * per KEPT document: (id, comp, quality, n_members) where `comp` is the
    * cluster label (min member id) and `n_members` its size (1 for
    * singletons).
    *
    * `quality` must be integer-valued for cross-engine determinism (e.g.
    * [[TextOps.qualityScoreBp]]); float scores make the argmax order
    * engine-dependent. Plan shape at scale: the closure's per-pass shuffles
    * (up to [[MaxLabelPasses]] label passes — O(log diameter) only where
    * ids grow along the graph — then star contraction, which bounds the
    * cost) + one left join on the doc id + one window on the
    * high-cardinality `comp` key — both window aggregates (rank, size)
    * share a single exchange. No driver collects. */
  def keepBest(docs: DataFrame, id: Column, quality: Column,
               pairs: DataFrame, a: Column, b: Column): DataFrame = {
    val comps = connectedComponents(pairs, a, b)
      .withColumnRenamed("id", "__cid")
    val base = docs.select(id.cast("long").as("id"), quality.cast("long").as("quality"))
    val labeled = base.join(comps, base("id") === comps("__cid"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .drop("__cid")
    val byComp = Window.partitionBy("comp")
    val rankW = byComp.orderBy(col("quality").desc, col("id").asc)
    labeled
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("__rnk", row_number().over(rankW))
      .filter(col("__rnk") === 1)
      .select("id", "comp", "quality", "n_members")
  }

  /** 64-bit SimHash over whitespace tokens — single-pass kernel expression
    * (a 64-aggregate builtin formulation re-scans the token array per bit). */
  def simhash(text: Column): Column = graft.functions.st.simhash64(text)

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHamming`, via the
    * pigeonhole block design: the 64 bits are split into `maxHamming + 1`
    * contiguous blocks, so any pair within distance maxHamming must agree
    * exactly on at least one block — candidate = equal (block, value),
    * verified by the exact Hamming distance. 100% recall BY CONSTRUCTION
    * (not probabilistic), unlike fixed 16-bit banding whose recall decays
    * and whose 65k-value key space all-pairs-collides at ~10⁹ docs.
    *
    * Same hot-bucket cap + metric column as [[minhashCandidates]]; the id
    * AND signature ride inside the bucket struct so verification needs no
    * join back to the corpus. Each bucket is collected once and split in
    * place into chunk pairs ([[chunkPairRows]]), so an in-cap hot bucket
    * (up to `maxBucket` members) explodes at most `chunkSize²` pairs from
    * any one row, and its rows spread across tasks. Returns
    * (id_a, id_b, hamming, n_dropped_buckets), id_a < id_b.
    */
  def simhashPairs(
      df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, maxBucket: Int = 65536,
      chunkSize: Int = DefaultChunkSize): DataFrame =
    hammingPairs64(df, id, simhash(text), maxHamming, maxBucket, chunkSize)

  /** (offset, width) of each pigeonhole block for `maxHamming + 1` blocks —
    * widths as equal as possible, first (64 % blocks) blocks get the extra
    * bit. THE single definition of the block layout: the batch engine below
    * and the streaming engine (StreamingDedup) must bucket identically or
    * their pair sets diverge. */
  private[graft] def pigeonholeLayout(maxHamming: Int): Array[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 63]")
    val blocks = maxHamming + 1
    val widths = Array.tabulate(blocks)(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    Array.tabulate(blocks)(b => (offsets(b), widths(b)))
  }

  /** Near-dup pairs at Hamming distance ≤ `maxHamming` over ANY precomputed
    * 64-bit signature column (SimHash, image perceptual hash, …) — the
    * pigeonhole-block engine behind [[simhashPairs]], exposed so other
    * modalities reuse the same bounded-bucket machinery. Returns
    * (id_a, id_b, hamming, n_dropped_buckets), id_a < id_b.
    */
  def hammingPairs64(
      df: DataFrame, id: Column, sig64: Column,
      maxHamming: Int = 3, maxBucket: Int = 65536,
      chunkSize: Int = DefaultChunkSize): DataFrame = {
    val layout = pigeonholeLayout(maxHamming)
    val (pairs, nDropped, _) = bandedPairs(df.select(id.as("id"), sig64.as("sig")),
      "sig", sig => layout.toSeq.map(bitBand(sig, _)), maxBucket, chunkSize)
    pairs.select(col("id_a"), col("id_b"),
        hamming(col("a.sig"), col("b.sig")).cast("long").as("__h"))
      .filter(col("__h") <= maxHamming)
      // when() keeps the column nullable like the drop path's first()
      // aggregate — the gate compares schemas, not just values
      .select(col("id_a"), col("id_b"),
        when(col("__h") >= 0, col("__h")).as("hamming"))
      .withColumn("n_dropped_buckets", lit(nDropped))
  }

  /** Embedding cosine near-duplicates via BANDED deterministic
    * random-hyperplane LSH: one `planes`-bit signature per vector, split
    * into `bands` contiguous bands; candidate = equal (band, value);
    * verified by exact cosine ≥ `minCosine`. Banding (vs the previous
    * single-bucket design) is what makes recall tunable independently of
    * bucket granularity: more bands ⇒ higher recall, wider bands ⇒ fewer
    * random collisions — the standard LSH trade-off, with the hot-bucket
    * cap + drop metric of the other operators. */
  def embeddingNearDup(
      df: DataFrame, id: Column, emb: Column,
      planes: Int = 64, bands: Int = 4, minCosine: Double = 0.95,
      maxBucket: Int = 65536, chunkSize: Int = DefaultChunkSize): DataFrame =
    embeddingNearDupVerified(df, id, emb, planes, bands, maxBucket,
      "cosine", (a, b) => Ann.cosine(a, b),
      verified => verified.filter(col("cosine") >= minCosine), chunkSize)

  /** [[embeddingNearDup]] with the exact integer predicate
    * cos²(a,b) ≥ cos2Num/cos2Den over scale-1000 quantized vectors —
    * bit-identical across engines and partitionings (float cosine sums are
    * order-stable here too, but the integer form is what the DuckDB oracle
    * replays). Defaults encode cos ≥ 0.95 (0.95² = 361/400). Output column
    * `dot_q` is the exact quantized dot product. */
  def embeddingNearDupQuantized(
      df: DataFrame, id: Column, emb: Column,
      planes: Int = 64, bands: Int = 4,
      cos2Num: Long = 361L, cos2Den: Long = 400L,
      maxBucket: Int = 65536, chunkSize: Int = DefaultChunkSize): DataFrame = {
    val qa = (c: Column) => Ann.quantize(c, 1000)
    val nq = (c: Column) => aggregate(qa(c), lit(0L), (acc, v) => acc + v * v)
    // the squared cross-multiply runs in DECIMAL: long builtin arithmetic
    // throws under ANSI on overflow (dot_q² · den exceeds 2^63 already for
    // ~200-dim unnormalized vectors), and the values stay exact in
    // decimal(38) up to ~10^4 dims
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    embeddingNearDupVerified(df, id, emb, planes, bands, maxBucket,
      "dot_q", (a, b) => aggregate(zip_with(qa(a), qa(b), (x, y) => x * y), lit(0L), (acc, v) => acc + v),
      verified => verified.filter(col("dot_q") > 0 &&
        col("dot_q").cast(dec) * col("dot_q").cast(dec) * cos2Den >=
          nq(col("emb_a")).cast(dec) * nq(col("emb_b")).cast(dec) * cos2Num),
      chunkSize)
  }

  private def embeddingNearDupVerified(
      df: DataFrame, id: Column, emb: Column,
      planes: Int, bands: Int, maxBucket: Int,
      scoreName: String, score: (Column, Column) => Column,
      verify: DataFrame => DataFrame,
      chunkSize: Int = DefaultChunkSize): DataFrame = {
    require(planes % bands == 0 && planes <= 64, "planes must be ≤64 and divisible by bands")
    val width = planes / bands
    val layout = Array.tabulate(bands)(b => (b * width, width))
    // the embeddings stay in the persisted frame, out of the bucket struct
    // (they would multiply the chunk payload by the vector width) and are
    // joined back onto the deduplicated pair set
    val (pairs, nDropped, sigs) = bandedPairs(
      df.select(id.as("id"), emb.as("emb"), Ann.hyperplaneSig(emb, planes).as("sig")),
      "sig", sig => layout.toSeq.map(bitBand(sig, _)), maxBucket, chunkSize)
    val cand = pairs
      .join(sigs.select(col("id").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("emb").as("emb_b")), "id_b")
    verify(cand.withColumn(scoreName, score(col("emb_a"), col("emb_b"))))
      .select(col("id_a"), col("id_b"), col(scoreName))
      .withColumn("n_dropped_buckets", lit(nDropped))
  }
}
