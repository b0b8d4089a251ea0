package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), with builtins only (zip_with / aggregate are codegen'd).
  *
  * Scale path: brute-force cosine is the exact baseline (a broadcast of the
  * query set + one map-side pass over the corpus — no shuffle); the
  * IVF-style variant prunes the corpus to the query's coarse cluster(s)
  * before scoring, and hyperplane-LSH bucketing powers near-dup joins.
  */
object Ann {

  /** Exact dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** Cosine similarity — single-pass kernel expression. */
  def cosine(a: Column, b: Column): Column = graft.functions.st.cosineSim(a, b)

  /** Integer-quantized dot product: q(x) = round(x·1000) as long, then exact
    * integer Σ q(a)·q(b). Associative & overflow-safe for |x| ≤ ~2000 dims —
    * bit-identical across engines and partitionings (the oracle-checkable
    * similarity; float sums are order-dependent, integer sums are not).
    */
  def quantizedDot(a: Column, b: Column, scale: Int = 1000): Column =
    aggregate(zip_with(quantize(a, scale), quantize(b, scale), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)

  /** Exact quantized scoring + per-query top-k over a (id, emb, q_id,
    * q_emb) candidate frame — the shared tail of every ANN variant
    * (deterministic: score desc, ties broken by id). */
  private def scoreTopK(cands: DataFrame, k: Int, scale: Int = 1000): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
    cands
      .filter(col("id") =!= col("q_id"))
      .withColumn("score", quantizedDot(col("emb"), col("q_emb"), scale))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "id", "score", "rank")
  }

  /** Brute-force top-k by quantized dot product (deterministic; ties broken
    * by id). Query vectors broadcast; corpus scanned once, no shuffle except
    * the final per-query top-k. */
  def bruteTopK(
      corpus: DataFrame, id: Column, emb: Column,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int): DataFrame = {
    val c = corpus.select(id.as("id"), emb.as("emb"))
    val q = queries.select(qId.as("q_id"), qEmb.as("q_emb"))
    scoreTopK(c.crossJoin(broadcast(q)), k)
  }

  /** Deterministic random-hyperplane signature: bit i = sign(v · h_i), where
    * h_ij is derived from mix64(i·100003+j) — seeded, no RNG state. Single-
    * pass kernel expression (the per-plane builtin formulation rebuilt the
    * hyperplane array per row per plane). */
  def hyperplaneSig(emb: Column, planes: Int): Column =
    graft.functions.st.hyperplaneSig(emb, planes)

  /** Integer-quantized vector: q(x) = round(x·scale) as long — the ONE
    * definition of the quantization whose Spark-half-up / DuckDB-ROUND bit
    * parity the oracles depend on (quantizedDot and the dedup operators
    * call this; do not re-inline the lambda). */
  private[operators] def quantize(emb: Column, scale: Int): Column =
    transform(emb, x => round(x.cast("double") * scale).cast("long"))

  /** Squared L2 distance between a quantized vector column and a centroid
    * long-array column — exact integer arithmetic (≤ (2·scale)²·dims per
    * row, far from overflow at embedding scale). */
  private def qDistC(q: Column, c: Column): Column =
    aggregate(zip_with(q, c, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Distances of a quantized vector column to EVERY centroid of a
    * codebook, as one array column: the codebook embeds as a single 2-D
    * literal array and ONE `transform` lambda computes all k distances —
    * semantically identical to unrolling k [[qDistC]] expressions, but the
    * expression tree (and its generated code) is k× smaller. The unrolled
    * form made plan+Janino compile time the dominant cost of every
    * cold-session k-means/PQ query (q55 cold 12.0 s vs 2.4 s warm at
    * sf0.1 — the work is trivial, the codegen was not). */
  private def qDistsAll(q: Column, centroids: Array[Array[Long]]): Column = {
    val lut = array(centroids.map(c => array(c.map(lit): _*)): _*)
    transform(lut, c => qDistC(q, c))
  }

  /** Floor division of exact integer sums (both engines replicate:
    * (s − pmod(s, n)) is divisible by n, and |s| ≪ 2⁵³ keeps the double
    * intermediate exact). Shared by the k-means updates and Mixing's
    * bin assignment — ONE definition of the cross-engine floor-div trick. */
  private[operators] def fdiv(s: Column, n: Column): Column =
    ((s - pmod(s, n)) / n).cast("long")

  /** Deterministic integer-quantized Lloyd's k-means over an embedding
    * column. Seeds = the k rows with the smallest mix64(id) (a bijection —
    * no ties), ordered; each iteration assigns every vector to its nearest
    * centroid (exact integer squared-L2, ties to the lowest cluster index)
    * and recomputes centroids as the element-wise FLOOR-divided integer
    * mean (empty clusters keep their previous centroid). Integer sums are
    * associative, so the result is bit-identical across partitionings and
    * engines — the property that makes the training loop DuckDB-replayable
    * (q30), unlike float k-means whose sums are order-dependent.
    *
    * Spark shape: the standard Lloyd's plan — centroids live on the driver
    * (k·dims longs), each pass is one broadcast-free map over the corpus +
    * one partial-aggregated shuffle on (cluster, dim); the corpus'
    * quantized form is persisted once across the iters+1 passes.
    */
  def kmeansAssign(
      df: DataFrame, id: Column, emb: Column,
      k: Int = 8, iters: Int = 2, scale: Int = 1000): DataFrame = {
    val (qv, centroids) = trainCentroids(df, id, emb, k, iters, scale)
    assignPass(qv, centroids)
  }

  /** The training loop behind [[kmeansAssign]] / [[ivfKmeansTopK]]: returns
    * the persisted quantized corpus and the final centroid matrix. */
  private[operators] def trainCentroids(
      df: DataFrame, id: Column, emb: Column,
      k: Int, iters: Int, scale: Int): (DataFrame, Array[Array[Long]]) = {
    require(k >= 1 && iters >= 0 && scale >= 1,
      s"kmeans: k ($k) and scale ($scale) must be >= 1, iters ($iters) >= 0")
    val qv = df.select(id.as("id"), quantize(emb, scale).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheTracker.register(qv)
    // seed selection: unsigned mix64 order == DuckDB's UBIGINT order via the
    // sign-bit flip (Spark sorts signed longs)
    val seeds = qv
      .withColumn("m", graft.functions.st.mix64(col("id")).bitwiseXOR(lit(Long.MinValue)))
      .orderBy("m").limit(k)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    // fewer rows than k just trains a smaller codebook; empty is an error
    require(seeds.nonEmpty, "kmeans: empty corpus")
    var centroids = seeds
    var it = 0
    while (it < iters) {
      val updated = assignPass(qv, centroids)
        .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("cv", fdiv(col("s"), col("n")))
        .groupBy("cluster")
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("cv")))),
          p => p.getField("cv")).as("c"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray)
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, j) => updated.getOrElse(j, old) }
      it += 1
    }
    (qv, centroids)
  }

  /** One assignment pass: (id, q, cluster, dist) vs centroid literals. */
  private def assignPass(qv: DataFrame, centroids: Array[Array[Long]]): DataFrame = {
    qv.withColumn("__d", qDistsAll(col("q"), centroids))
      .withColumn("dist", array_min(col("__d")))
      // first index of the min == lowest cluster on ties (both engines)
      .withColumn("cluster", expr("array_position(__d, array_min(__d))").cast("long") - 1)
      .drop("__d")
  }

  /** IVF with k-means coarse quantizer: corpus bucketed by trained cluster;
    * each query probes its `probes` nearest centroids and scores exactly
    * (quantized dot) inside them. The data-adapted codebook replaces the
    * fixed hyperplane prefix of [[ivfTopK]] — bucket occupancy tracks the
    * corpus distribution, so nBuckets can grow with corpus size without the
    * empty/overfull-bucket pathology of data-oblivious hashing. Recall vs
    * [[bruteTopK]] is pinned in OperatorsSpec. */
  def ivfKmeansTopK(
      corpus: DataFrame, id: Column, emb: Column,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int, kClusters: Int = 8, iters: Int = 2, probes: Int = 3,
      scale: Int = 1000): DataFrame = {
    val (qv, centroids) = trainCentroids(corpus, id, emb, kClusters, iters, scale)
    // centroids are on the driver now — the corpus-sized training cache has
    // no further reader, release it before building the search plan
    qv.unpersist()
    // assignment recomputed inline over the corpus scan (one pass, no join
    // back to the training cache — the quantize+distance map is codegen'd)
    val c = assignPass(
        corpus.select(id.as("id"), emb.as("emb"), quantize(emb, scale).as("q")), centroids)
      .select(col("id"), col("emb"), col("cluster").as("bucket"))
    val probed = probeClusters(queries, qId, qEmb, centroids, probes, scale)
    // scale threads all the way to final scoring — training, probing and
    // ranking use ONE quantization (rankings stay consistent off-default)
    scoreTopK(c.join(broadcast(probed), "bucket"), k, scale)
  }

  /** Per-query top-`probes` nearest centroids (deterministic: distance,
    * then bucket) — shared by [[ivfKmeansTopK]] and [[queryIvfIndex]]. */
  private def probeClusters(queries: DataFrame, qId: Column, qEmb: Column,
      centroids: Array[Array[Long]], probes: Int, scale: Int): DataFrame = {
    val q0 = queries.select(qId.as("q_id"), qEmb.as("q_emb"),
      quantize(qEmb, scale).as("q"))
    q0.withColumn("__d", qDistsAll(col("q"), centroids))
      .select(col("q_id"), col("q_emb"), posexplode(col("__d")).as(Seq("bucket", "cd")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cd"), col("bucket"))))
      .filter(col("rk") <= probes)
      .select(col("q_id"), col("q_emb"), col("bucket").cast("long").as("bucket"))
  }

  /** Build a PERSISTED IVF index: train the deterministic integer k-means
    * codebook, assign every corpus row to its cluster, and commit
    * (bucket=cluster, id, emb) into a snapshot table — each cluster whole
    * in one file with per-file [min,max] bucket stats — plus a
    * `codebook.json` sidecar (centroids, scale). The index-once /
    * query-many shape: queries never retrain, and [[queryIvfIndex]] reads
    * ONLY the probed clusters' files through the manifest. */
  def buildIvfIndex(
      corpus: DataFrame, id: Column, emb: Column, table: String,
      kClusters: Int = 8, iters: Int = 2, scale: Int = 1000,
      numPartitions: Int = 8): Unit = {
    val (qv, centroids) = trainCentroids(corpus, id, emb, kClusters, iters, scale)
    qv.unpersist()
    val assigned = assignPass(
        corpus.select(id.as("id"), emb.as("emb"), quantize(emb, scale).as("q")), centroids)
      .select(col("cluster").as("bucket"), col("id"), col("emb"))
    val committed = graft.sources.SnapshotTable.commitBatch(assigned, table,
      "index", "bucket", Seq("id"), numPartitions)
    // an existing index must not be half-updated: the commit would be
    // skipped (resume semantics) while the codebook below got overwritten —
    // silent data/codebook mismatch if the corpus changed
    require(committed,
      s"buildIvfIndex: $table already holds an index batch — delete it or use a new path")
    import graft.core.{JObj, JArr, JNum}
    val cb = JObj.of(
      "scale" -> JNum(scale),
      "centroids" -> JArr(centroids.toVector.map(c =>
        JArr(c.toVector.map(v => JNum(v.toDouble))))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table, "codebook.json"), cb.render)
  }

  private def loadCodebook(table: String): (Int, Array[Array[Long]]) = {
    import graft.core.{Json, JObj, JArr, JNum}
    val cb = Json.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(table, "codebook.json"))).asInstanceOf[JObj]
    val scale = cb("scale").asInstanceOf[JNum].v.toInt
    val centroids = cb("centroids").asInstanceOf[JArr].items.map(
      _.asInstanceOf[JArr].items.map(_.asInstanceOf[JNum].v.toLong).toArray).toArray
    (scale, centroids)
  }

  /** Per-append drift telemetry from [[appendToIvfIndex]]: the assigned
    * quantized squared distances of the new rows to their clusters. A
    * rising mean across appends means the frozen codebook no longer fits
    * the incoming distribution — recall decays; rebuild the index. */
  final case class IvfAppendStats(committed: Boolean, rows: Long,
      meanDist: Double, maxDist: Long)

  /** Append NEW rows to an EXISTING [[buildIvfIndex]] table: assign them to
    * the FROZEN codebook (no retraining) and commit as a new snapshot batch
    * — the continuously-ingesting corpus path; without it, index-once /
    * query-many means index-once-EVER. [[queryIvfIndex]] prunes across all
    * batches (per-batch manifest file stats), so queries after an append
    * are bit-identical to a from-scratch build on the union corpus
    * WHENEVER that build would train the same codebook (deterministic
    * trainer caveat — spec-pinned with iters=0 seeds drawn from the base
    * corpus). As the incoming distribution drifts from the training
    * distribution, recall against the frozen codebook decays — watch the
    * returned [[IvfAppendStats]] and rebuild when the assigned-distance
    * mean rises. `committed = false` means `batchId` was already in the
    * manifest (exactly-once resume — nothing written). */
  def appendToIvfIndex(newRows: DataFrame, id: Column, emb: Column,
      table: String, batchId: String, numPartitions: Int = 8): IvfAppendStats = {
    require(batchId != "index", "appendToIvfIndex: 'index' is the build batch id")
    val (scale, centroids) = loadCodebook(table)
    val assigned = assignPass(
        newRows.select(id.as("id"), emb.as("emb"), quantize(emb, scale).as("q")), centroids)
      .select(col("cluster").as("bucket"), col("id"), col("emb"), col("dist"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = assigned.agg(count(lit(1)), avg(col("dist")), max(col("dist"))).collect()(0)
      val rows = m.getLong(0)
      require(rows > 0, "appendToIvfIndex: empty append")
      val committed = graft.sources.SnapshotTable.commitBatch(
        assigned.drop("dist"), table, batchId, "bucket", Seq("id"), numPartitions)
      IvfAppendStats(committed, rows, m.getDouble(1), m.getLong(2))
    } finally { assigned.unpersist(); () }
  }

  /** Query a [[buildIvfIndex]] table: load the codebook sidecar, probe each
    * query's nearest clusters, read the probed buckets through
    * `SnapshotTable.readBuckets` (a bucket filter whose scan opens ONLY the
    * files whose manifest bucket range hits a probed cluster), and score
    * exactly inside them.
    * Bit-identical to [[ivfKmeansTopK]] at the same parameters (the
    * training is deterministic; spec-pinned). Returns (result,
    * selectedFiles, totalFiles) so callers can assert the pruning. */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int, probes: Int = 3): (DataFrame, Int, Int) = {
    val (scale, centroids) = loadCodebook(table)
    val probed = probeClusters(queries, qId, qEmb, centroids, probes, scale)
    // the probed cluster SET is tiny (≤ kClusters) — collect it to drive
    // manifest file selection
    val bucketSet = probed.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    val (idx, selected, total) =
      graft.sources.SnapshotTable.readBuckets(spark, table, bucketSet)
    (scoreTopK(idx.join(broadcast(probed), "bucket"), k, scale), selected, total)
  }

  /** Integer dot product of two already-quantized long-array columns. */
  private def qdotCols(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** ADC score of a PQ code row against a quantized query: Σ_s
    * q_sub(s) · codebook[s][codes[s]], folded as ONE lambda over a 3-D
    * literal LUT instead of m unrolled per-subspace expressions (same
    * codegen-size rationale as [[qDistsAll]]; long addition is associative,
    * so the left fold equals the unrolled reduce bit-for-bit). */
  private def adcScore(qq: Column, codes: Column,
      codebooks: Array[Array[Array[Long]]], d: Int): Column = {
    val m = codebooks.length
    val lut = array(codebooks.map(cb =>
      array(cb.map(c => array(c.map(lit): _*)): _*)): _*)
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
      acc + qdotCols(slice(qq, s * d + 1, lit(d)),
        element_at(element_at(lut, s + 1), (element_at(codes, s + 1) + 1).cast("int"))))
  }

  /** Train product-quantization codebooks (Jégou, Douze & Schmid, TPAMI'11):
    * the `dims`-dim quantized vector splits into `m` contiguous subspaces of
    * `dims/m` dims each, and each subspace gets its own `ks`-centroid
    * integer k-means codebook. Deterministic end-to-end: the SAME seed rows
    * (the `ks` smallest by unsigned mix64(id), as in [[kmeansAssign]])
    * seed every subspace (sliced), assignment ties go to the lowest code,
    * centroid updates are floor-divided integer means — so training replays
    * bit-identically in the DuckDB oracle.
    *
    * All `m` subspaces train in ONE loop: each Lloyd's round is a single
    * corpus pass (codes for every subspace computed in one projection) plus
    * one partial-aggregated shuffle on (subspace, code, dim) — m·ks·dims/m
    * = ks·dims groups, driver state m·ks·(dims/m) = ks·dims longs. Returns
    * the persisted quantized corpus and codebooks[s][c] (length dims/m).
    */
  private[operators] def pqTrain(
      df: DataFrame, id: Column, emb: Column,
      m: Int, ks: Int, iters: Int, scale: Int): (DataFrame, Array[Array[Array[Long]]]) = {
    require(m >= 1 && ks >= 1 && iters >= 0 && scale >= 1,
      s"pq: m ($m), ks ($ks), scale ($scale) must be >= 1, iters ($iters) >= 0")
    val qv = df.select(id.as("id"), quantize(emb, scale).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheTracker.register(qv)
    val seedRows = qv
      .withColumn("__m", graft.functions.st.mix64(col("id")).bitwiseXOR(lit(Long.MinValue)))
      .orderBy("__m").limit(ks)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    require(seedRows.nonEmpty, "pq: empty corpus")
    val dims = seedRows(0).length
    require(dims % m == 0, s"pq: dims ($dims) must divide into m ($m) subspaces")
    val d = dims / m
    var codebooks = Array.tabulate(m, seedRows.length) { (s, c) =>
      seedRows(c).slice(s * d, s * d + d)
    }
    var it = 0
    while (it < iters) {
      val updated = pqCodeCols(qv, codebooks, d)
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), col(s"__c$s").as("code"),
            slice(col("q"), s * d + 1, d).as("sq"))): _*)).as("e"))
        .select(col("e.s"), col("e.code"), posexplode(col("e.sq")).as(Seq("dim", "v")))
        .groupBy("s", "code", "dim")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", fdiv(col("sv"), col("n")))
        .groupBy("s", "code")
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("cv")))),
          p => p.getField("cv")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getSeq[Long](2).toArray)
        .toMap
      codebooks = Array.tabulate(m, codebooks(0).length) { (s, c) =>
        updated.getOrElse((s, c), codebooks(s)(c))
      }
      it += 1
    }
    (qv, codebooks)
  }

  /** Per-subspace nearest-code columns `__c0..__c{m-1}` over a quantized
    * frame — exact integer squared-L2, ties to the lowest code (the same
    * argmin idiom as [[assignPass]], per subspace). */
  private def pqCodeCols(qv: DataFrame, codebooks: Array[Array[Array[Long]]],
      d: Int): DataFrame =
    codebooks.indices.foldLeft(qv) { (df, s) =>
      df.withColumn(s"__d$s", qDistsAll(slice(col("q"), s * d + 1, d), codebooks(s)))
        .withColumn(s"__c$s",
          expr(s"array_position(__d$s, array_min(__d$s))").cast("long") - 1)
        .drop(s"__d$s")
    }

  /** Encode a quantized frame to (id, codes): codes[s] = the subspace-s
    * nearest code — dims longs compress to m bytes' worth of codes, the
    * memory shape that makes billion-vector scans feasible. */
  private[operators] def pqEncode(qv: DataFrame, codebooks: Array[Array[Array[Long]]],
      d: Int): DataFrame = {
    val m = codebooks.length
    pqCodeCols(qv, codebooks, d)
      .select(col("id"), array((0 until m).map(s => col(s"__c$s")): _*).as("codes"))
  }

  /** PQ top-k by asymmetric-distance computation (ADC): the corpus is
    * scanned as m-byte CODES (never reconstructed), each query scores a
    * code row as Σ_s q_sub(s) · codebook[s][codes[s]] — the exact integer
    * dot product against the RECONSTRUCTION, so the score error is the
    * quantization error, never float noise. Codebooks embed as per-subspace
    * literal arrays (ks·dims longs — broadcast-free); queries broadcast;
    * the only shuffle is the final per-query top-k. Approximation quality
    * vs [[bruteTopK]] is recall-pinned in the spec; determinism (ties by
    * id) makes the result oracle-checkable like q30/q31: the DuckDB replay
    * re-runs training, encoding, and ADC bit-identically. */
  def pqTopK(
      corpus: DataFrame, id: Column, emb: Column,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int, m: Int = 8, ks: Int = 16, iters: Int = 1,
      scale: Int = 1000): DataFrame = {
    val (qv, codebooks) = pqTrain(corpus, id, emb, m, ks, iters, scale)
    val d = codebooks(0)(0).length
    val codes = pqEncode(qv, codebooks, d)
    val q = queries.select(qId.as("q_id"), quantize(qEmb, scale).as("qq"))
    val score = adcScore(col("qq"), col("codes"), codebooks, d)
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
    codes.crossJoin(broadcast(q))
      .filter(col("id") =!= col("q_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "id", "score", "rank")
  }

  /** IVF-PQ: coarse k-means clusters prune the corpus (as in
    * [[ivfKmeansTopK]]), and inside the probed clusters rows are scored
    * from PQ CODES by ADC (as in [[pqTopK]]) — the composition that makes
    * billion-vector search feasible: the scan touches `probes/kClusters`
    * of the corpus and reads m small codes per row instead of the full
    * vector. Both trainings are the deterministic integer loops, so the
    * result is exactly [[pqTopK]]'s ADC ranking restricted to the probed
    * clusters (spec-pinned) — which is why this variant needs no separate
    * oracle: coarse pruning is q31's oracle-gated machinery, ADC scoring
    * is q55's. */
  def ivfPqTopK(
      corpus: DataFrame, id: Column, emb: Column,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int, kClusters: Int = 8, coarseIters: Int = 2, probes: Int = 3,
      m: Int = 8, ks: Int = 16, pqIters: Int = 1,
      scale: Int = 1000): DataFrame = {
    val (qvCoarse, coarse) = trainCentroids(corpus, id, emb, kClusters, coarseIters, scale)
    val (qv, codebooks) = pqTrain(corpus, id, emb, m, ks, pqIters, scale)
    qvCoarse.unpersist()
    val d = codebooks(0)(0).length
    // one corpus pass computes BOTH the coarse bucket and the PQ codes
    val bucketed = assignPass(qv, coarse)
      .select(col("id"), col("q"), col("cluster").as("bucket"))
    val codes = pqCodeCols(bucketed, codebooks, d)
      .select(col("id"), col("bucket"),
        array((0 until m).map(s => col(s"__c$s")): _*).as("codes"))
    val probed = probeClusters(queries, qId, qEmb, coarse, probes, scale)
      .withColumn("qq", quantize(col("q_emb"), scale))
    val score = adcScore(col("qq"), col("codes"), codebooks, d)
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("id"))
    codes.join(broadcast(probed), "bucket")
      .filter(col("id") =!= col("q_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "id", "score", "rank")
  }

  /** IVF-style ANN: corpus pre-assigned to `nBuckets` coarse buckets by
    * hyperplane-sig prefix; each query scores only its own bucket. Recall
    * grows with `probes` (multi-probe = flip low bits). Exact within bucket.
    */
  def ivfTopK(
      corpus: DataFrame, id: Column, emb: Column,
      queries: DataFrame, qId: Column, qEmb: Column,
      k: Int, planes: Int = 4, probes: Int = 5): DataFrame = {
    val c = corpus.select(id.as("id"), emb.as("emb"), hyperplaneSig(emb, planes).as("bucket"))
    // multi-probe = the exact bucket plus single-bit flips (hamming-1 shell)
    val masks = (0L +: (0 until math.min(probes - 1, planes)).map(b => 1L << b)).distinct
    val probeArr = array(masks.map(lit): _*)
    val q = queries.select(qId.as("q_id"), qEmb.as("q_emb"),
        explode(transform(probeArr, p => hyperplaneSig(qEmb, planes).bitwiseXOR(p))).as("bucket"))
    scoreTopK(c.join(broadcast(q), "bucket"), k)
  }
}
