package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{st, SparkTestSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A batch's manifest entry as a commit computed it before the Parquet
  * writer reported its stats: the written files read back in one
  * aggregation keyed by (file, bucket). Kept only here, as the oracle for
  * the writer's stats. */
object OldReadBack {
  import SnapshotTable.{Batch, BucketStat, FileStat}

  def batch(spark: SparkSession, table: String, batchId: String, schema: StructType,
      bucketCol: String): Batch = {
    val batchDir = Paths.get(table, "data", s"b$batchId")
    val dataCols = schema.fieldNames.toSeq
    val written = spark.read.schema(schema).parquet(batchDir.toString)
      .select(dataCols.map(col): _*)
    val relMarker = s"/b$batchId/"
    val fineStats = written
      .groupBy(input_file_name().as("f"), col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("rows"),
        expr(s"bit_xor(xxhash64(${written.columns.mkString(", ")}))").as("fp"))
      .collect().map { r =>
        val uri = r.getString(0)
        (uri.substring(uri.lastIndexOf(relMarker) + relMarker.length),
          r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val bucketStats = fineStats.groupBy(_._2).map { case (bucket, xs) =>
      BucketStat(bucket, xs.map(_._3).sum, xs.map(_._4).foldLeft(0L)(_ ^ _))
    }.toVector.sortBy(_.bucket)
    val dataFileStats = fineStats.groupBy(_._1).map { case (rel, xs) =>
      rel -> FileStat(rel, xs.map(_._2).min, xs.map(_._2).max, xs.map(_._3).sum)
    }.toMap
    val walk = Files.walk(batchDir)
    val files =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => batchDir.relativize(p).toString)
        .toVector.sorted
      finally walk.close()
    val fileStats = files.map(f => dataFileStats.getOrElse(f, FileStat(f, 0L, -1L, 0L)))
    Batch(batchId, files, bucketStats.map(_.rows).sum,
      bucketStats.map(_.fingerprint).foldLeft(0L)(_ ^ _), bucketStats, fileStats, Some(bucketCol))
  }
}

/** Parquet's committer, plus a hook run on the output dir once the job has
  * committed: lets a spec change the files a write leaves on disk. */
class TamperingCommitter(out: org.apache.hadoop.fs.Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: JobContext): Unit = {
    super.commitJob(job)
    TamperingCommitter.onCommit(Paths.get(out.toUri))
  }
}
object TamperingCommitter {
  @volatile var onCommit: Path => Unit = _ => ()
}

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").toString

  private def batchDf(batch: Int, n: Int, parts: Int) =
    spark.range(batch * 10000, batch * 10000 + n, 1, parts)
      .select(col("id"),
        st.mix64(col("id")).as("payload"),
        pmod(st.mix64(col("id") + 7), lit(64L)).as("bucket"))

  /** 20,000 ids whose bucket is a cell id at `res` (the zOrderRes contract). */
  private def cellDf(res: Int) =
    spark.range(0, 20000, 1, 8)
      .select(col("id"),
        (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
        (pmod(st.mix64(col("id") + 1), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
      .select(col("id"), st.cellId(col("lon"), col("lat"), res).as("bucket"))

  /** Every batch of the current snapshot carries the entry the old
    * read-back computes from its files: files, rows, fingerprint,
    * per-bucket and per-file stats. */
  private def assertStatsAsReadBack(dir: String, schema: StructType): Unit =
    SnapshotTable.currentSnapshot(dir).batches.foreach { b =>
      assert(b == OldReadBack.batch(spark, dir, b.batchId, schema, "bucket"), s"batch ${b.batchId}")
    }

  /** The "number of files read" of `df`'s one scan, once `df` has run. */
  private def filesRead(df: DataFrame): Long = {
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1)
    scans.head.metrics("numFiles").value
  }

  /** How many Spark jobs `body` starts: listener events arrive in order, so
    * once a probe job run after `body` is seen, every job of `body` is. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("snap-body", "measured body")
      body
      sc.setJobGroup("snap-probe", "probe job")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("snap-probe") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("snap-probe"))
      groups.asScala.count(_ == "snap-body")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("commit + read-back + lineage metrics") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 5000, 8), dir, "b0", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 3000, 8), dir, "b1", "bucket", Seq("id")))
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 8000)
    // the schema a Parquet scan of the files infers, nullability included
    assert(back.schema == spark.read.parquet(dir + "/data/bb0").schema)
    // two opens of one snapshot are the same relation (cache lookup, exchange reuse)
    assert(back.sameSemantics(SnapshotTable.read(spark, dir)))
    val lin = SnapshotTable.lineage(spark, dir)
    assert(lin.agg(sum("rows")).head().getLong(0) == 8000)
    assert(lin.select("batch_id").distinct().count() == 2)
    // snapshot isolation: an orphan parquet in data/ is invisible
    batchDf(9, 100, 1).write.parquet(dir + "/data/borphan")
    assert(SnapshotTable.read(spark, dir).count() == 8000)
  }

  test("manifest file skipping: readRange prunes files under z-order layout") {
    val dir = freshDir()
    val df = cellDf(5)
    assert(SnapshotTable.commitBatch(df, dir, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5))
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.batches.head.fileStats.nonEmpty)
    // query one z-order sub-range: pruned read == full read filtered, and
    // the manifest skipped files without opening them
    val cells = df.select("bucket").distinct().orderBy("bucket").as[Long].collect()
    val (lo, hi) = (cells(cells.length / 4), cells(cells.length / 3))
    val (pruned, selected, total) = SnapshotTable.readRange(spark, dir, lo, hi)
    val want = SnapshotTable.read(spark, dir)
      .filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    val got = pruned.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    assert(selected < total, s"no files skipped ($selected of $total)")
    // a plain filter on read scans exactly the files readRange selected,
    // with the literal on either side of the comparison
    Seq(col("bucket").between(lo, hi), lit(hi) >= col("bucket") && lit(lo) <= col("bucket")).foreach { p =>
      val ids = SnapshotTable.read(spark, dir).filter(p).select("id")
      assert(ids.collect().map(_.getLong(0)).sorted.toSeq == want)
      assert(filesRead(ids) == selected)
    }
    // a bucket set of 12 (planned as InSet) prunes too
    val probe = cells.slice(cells.length / 4, cells.length / 4 + 12).toSeq
    val (byBuckets, selected2, _) = SnapshotTable.readBuckets(spark, dir, probe)
    assert(byBuckets.select("id").as[Long].collect().sorted.toSeq ==
      df.filter(col("bucket").isin(probe: _*)).select("id").as[Long].collect().sorted.toSeq)
    assert(selected2 < total, s"readBuckets skipped no files ($selected2 of $total)")
    // byte-stability across parallelism holds for the z-order layout too
    val dir2 = freshDir()
    SnapshotTable.commitBatch(df.repartition(3), dir2, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5)
    assert(SnapshotTable.currentSnapshot(dir).batches.head.fingerprint ==
      SnapshotTable.currentSnapshot(dir2).batches.head.fingerprint)
    // per-file CONTENT layout identical at any input parallelism (names
    // carry task/UUID noise; the (range, rows) multiset is the invariant)
    def shape(d: String) = SnapshotTable.currentSnapshot(d).batches.head.fileStats
      .map(fs => (fs.minBucket, fs.maxBucket, fs.rows)).sorted
    assert(shape(dir) == shape(dir2), "per-file z-order blocks must be parallelism-independent")
  }

  test("compact: many batches -> one, content-verified; vacuum reclaims replaced dirs") {
    val dir = freshDir()
    (0 until 4).foreach { b =>
      assert(SnapshotTable.commitBatch(batchDf(b, 2000, 8), dir, s"b$b", "bucket", Seq("id"),
        numPartitions = 8))
    }
    val fpBefore = SnapshotTable.tableFingerprint(dir)
    val filesBefore = SnapshotTable.currentSnapshot(dir).batches.map(_.files.size).sum
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 4))
    val snap = SnapshotTable.currentSnapshot(dir)
    // one batch, fewer files, identical content fingerprint and rows
    assert(snap.batches.length == 1 && snap.batches.head.files.size < filesBefore)
    assert(SnapshotTable.tableFingerprint(dir) == fpBefore)
    assert(SnapshotTable.read(spark, dir).count() == 8000)
    // lineage survives compaction (per-bucket stats recomputed, same totals)
    assert(SnapshotTable.lineage(spark, dir).agg(sum("rows")).head().getLong(0) == 8000)
    // old batch dirs still on disk (old-version readers), then vacuumed
    val dataDirs = new java.io.File(dir + "/data").list().toSet
    assert((0 until 4).forall(b => dataDirs.contains(s"bb$b")))
    val gone = SnapshotTable.vacuum(dir)
    assert(gone.toSet == (0 until 4).map(b => s"bb$b").toSet)
    assert(SnapshotTable.read(spark, dir).count() == 8000)
    assert(SnapshotTable.tableFingerprint(dir) == fpBefore)
    // nothing further to compact
    assert(!SnapshotTable.compact(spark, dir, "bucket", Seq("id")))
    // recommit after compaction continues the version chain
    assert(SnapshotTable.commitBatch(batchDf(7, 500, 2), dir, "b7", "bucket", Seq("id")))
    assert(SnapshotTable.read(spark, dir).count() == 8500)
  }

  test("time travel: readAt any retained version; selective compact merges only small batches") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 6000, 8), dir, "big", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 300, 2), dir, "s1", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(2, 400, 2), dir, "s2", "bucket", Seq("id")))
    // opening the table, now or at a version, runs no job
    assert(jobsStartedBy { SnapshotTable.read(spark, dir); SnapshotTable.readAt(spark, dir, 2) } == 0)
    // time travel across the commit history
    assert(SnapshotTable.readAt(spark, dir, 1).count() == 6000)
    assert(SnapshotTable.readAt(spark, dir, 2).count() == 6300)
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 6700)
    val fp = SnapshotTable.tableFingerprint(dir)
    // selective: only the two small batches merge; the big one is untouched
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2,
      onlyBatchesUnderRows = 1000L))
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.batches.map(_.batchId).toSet == Set("big", "c4"))
    assert(snap.batches.find(_.batchId == "c4").get.rows == 700)
    assert(SnapshotTable.tableFingerprint(dir) == fp)
    assert(SnapshotTable.read(spark, dir).count() == 6700)
    // the pre-compaction version still reads (manifests immutable)
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 6700)
    // nothing else under the threshold
    assert(!SnapshotTable.compact(spark, dir, "bucket", Seq("id"),
      onlyBatchesUnderRows = 1000L))
    // vacuum is DESTRUCTIVE for time travel (the documented trade): the
    // replaced small-batch dirs disappear, so the pre-compaction version
    // no longer reads, while the current snapshot is untouched
    val gone = SnapshotTable.vacuum(dir)
    assert(gone.toSet == Set("bs1", "bs2"))
    intercept[Exception] { SnapshotTable.readAt(spark, dir, 3).count() }
    assert(SnapshotTable.read(spark, dir).count() == 6700)
  }

  test("compact preserves z-order fileStats: readRange still skips files") {
    val dir = freshDir()
    val df = cellDf(5)
    assert(SnapshotTable.commitBatch(df.filter(col("id") < 10000), dir, "b0", "bucket",
      Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.commitBatch(df.filter(col("id") >= 10000), dir, "b1", "bucket",
      Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5))
    val cells = df.select("bucket").distinct().orderBy("bucket").as[Long].collect()
    val (lo, hi) = (cells(cells.length / 4), cells(cells.length / 3))
    val (pruned, selected, total) = SnapshotTable.readRange(spark, dir, lo, hi)
    val got = pruned.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    val want = df.filter(col("bucket") >= lo && col("bucket") <= hi)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
    assert(selected < total, s"compacted manifest skipped no files ($selected of $total)")
  }

  test("manifest bounds above 2^60 are exact: readRange finds every file-edge cell") {
    val dir = freshDir()
    // res-7 cell ids are > 2^60: as JSON doubles they rounded to multiples of 256
    val df = cellDf(7)
    assert(SnapshotTable.commitBatch(df, dir, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 7))
    val counts = df.groupBy("bucket").count().as[(Long, Long)].collect().toMap
    val stats = SnapshotTable.currentSnapshot(dir).batches.head.fileStats.filter(_.rows > 0)
    assert(stats.size > 1 && stats.forall(_.minBucket > (1L << 60)))
    assert(SnapshotTable.currentSnapshot(dir).batches.head.buckets.forall(b => counts.contains(b.bucket)))
    stats.flatMap(fs => Seq(fs.minBucket, fs.maxBucket)).foreach { c =>
      assert(counts.contains(c), s"recorded bound $c is no bucket of the table")
      val (frame, _, _) = SnapshotTable.readRange(spark, dir, c, c)
      assert(frame.filter(col("bucket") === c).count() == counts(c), s"cell $c")
    }
    // an older manifest stored the bounds as JSON numbers: they are not
    // trusted, so every file is read
    val snapDir = java.nio.file.Paths.get(dir, "snapshots")
    val v = SnapshotTable.currentVersion(dir)
    val path = snapDir.resolve(s"v$v.json")
    val manifest = Files.readString(path)
    Files.writeString(path,
      manifest.replaceAll("\"(minBucket|maxBucket)\":\\s*\"(\\d+)\"", "\"$1\":$2"))
    val c = stats.head.minBucket
    val (frame, selected, total) = SnapshotTable.readRange(spark, dir, c, c)
    assert(selected == total)
    assert(frame.filter(col("bucket") === c).count() == counts(c))
    // a manifest without bucketCol: exact bounds, but every file is read
    val noCol = manifest.replaceAll(",\\s*\"bucketCol\":\\s*\"bucket\"", "")
    assert(noCol != manifest)
    Files.writeString(path, noCol)
    val (frame2, selected2, total2) = SnapshotTable.readRange(spark, dir, c, c)
    assert(selected2 == total2 && total2 == total)
    assert(frame2.filter(col("bucket") === c).count() == counts(c))
    val filtered = SnapshotTable.read(spark, dir).filter(col("bucket") === c)
    assert(filtered.collect().length == counts(c))
    assert(filesRead(filtered) == total)
  }

  test("optimistic concurrency: racing committers all land, none clobbered") {
    // three writer entry points exist (commitBatch / streamingCommit /
    // compact) — publish must CAS on the version file, not blindly
    // read-modify-write LATEST. Six concurrent committers: every batch must
    // be present afterwards (a lost update would drop one silently).
    val dir = freshDir()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).map { b =>
      new Thread(() =>
        try SnapshotTable.commitBatch(batchDf(b, 500, 2), dir, s"t$b", "bucket", Seq("id"))
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    val snap = SnapshotTable.currentSnapshot(dir)
    assert(snap.version == 6, s"expected 6 snapshot versions, got ${snap.version}")
    assert(snap.batchIds == (0 until 6).map(b => s"t$b").toSet)
    assert(SnapshotTable.read(spark, dir).count() == 3000)
  }

  test("optimistic concurrency: the loser THROWS rather than clobbers (stale lock)") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 500, 2), dir, "b0", "bucket", Seq("id")))
    // simulate a racing winner that already claimed v2: its CREATE_NEW lock
    // exists, so this writer's publish must surface a retryable conflict
    // after its bounded retries — never overwrite
    Files.createFile(java.nio.file.Paths.get(dir, "snapshots", "v2.lock"))
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id"))
    }
    assert(SnapshotTable.currentSnapshot(dir).batchIds == Set("b0"),
      "loser must leave the winner's snapshot untouched")
    // conflict is RETRYABLE: once the contended version clears, the same
    // commit goes through
    Files.delete(java.nio.file.Paths.get(dir, "snapshots", "v2.lock"))
    assert(SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id")))
    assert(SnapshotTable.read(spark, dir).count() == 1000)
  }

  test("optimistic concurrency: compact PROPAGATES a conflict (no auto-retry), table unchanged") {
    // a compact that loses a publish race must not retry blindly — the
    // batch set it folded may have changed under it; the conflict
    // surfaces and the table keeps serving the winner's snapshot
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 800, 2), dir, "b0", "bucket", Seq("id")))
    assert(SnapshotTable.commitBatch(batchDf(1, 800, 2), dir, "b1", "bucket", Seq("id")))
    val fp = SnapshotTable.tableFingerprint(dir)
    Files.createFile(java.nio.file.Paths.get(dir, "snapshots", "v3.lock"))
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2)
    }
    assert(SnapshotTable.currentSnapshot(dir).version == 2)
    assert(SnapshotTable.currentSnapshot(dir).batchIds == Set("b0", "b1"))
    assert(SnapshotTable.tableFingerprint(dir) == fp)
    assert(SnapshotTable.read(spark, dir).count() == 1600)
    // once the contention clears, the same compact succeeds
    Files.delete(java.nio.file.Paths.get(dir, "snapshots", "v3.lock"))
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2))
    assert(SnapshotTable.tableFingerprint(dir) == fp)
  }

  test("vacuum retention: retained versions keep time travel; older throw clearly") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 1000, 2), dir, "b0", "bucket", Seq("id"))) // v1
    assert(SnapshotTable.commitBatch(batchDf(1, 1000, 2), dir, "b1", "bucket", Seq("id"))) // v2
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 2)) // v3: c3
    assert(SnapshotTable.commitBatch(batchDf(2, 500, 2), dir, "b2", "bucket", Seq("id"))) // v4
    // retain the last two manifests (v3, v4): their batches {c3, b2} stay,
    // the compacted-away originals age out
    val gone = SnapshotTable.vacuum(dir, retainVersions = 2)
    assert(gone.toSet == Set("bb0", "bb1"))
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 2000)
    assert(SnapshotTable.readAt(spark, dir, 4).count() == 2500)
    // outside the window: a CLEAR retention error up front, naming the
    // vacuumed batch dirs — not a parquet FileNotFound mid-scan
    val e = intercept[IllegalStateException] { SnapshotTable.readAt(spark, dir, 2) }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("bb0"))
    // idempotent: nothing further to reclaim at the same retention
    assert(SnapshotTable.vacuum(dir, retainVersions = 2).isEmpty)
  }

  test("exact resume: interrupted run re-converges to byte-identical table") {
    def runPipeline(dir: String, upTo: Int): Unit =
      (0 until upTo).foreach { b =>
        SnapshotTable.commitBatch(batchDf(b, 2000, 4), dir, s"b$b", "bucket", Seq("id"))
      }
    // uninterrupted run
    val full = freshDir()
    runPipeline(full, 4)
    // interrupted run: stop after 2 batches, then resume from scratch
    val resumed = freshDir()
    runPipeline(resumed, 2)
    // "crash": a partially-written orphan from batch 2
    batchDf(2, 500, 1).write.parquet(resumed + "/data/b2_tmp_orphan")
    runPipeline(resumed, 4) // b0/b1 skipped (manifest), b2/b3 written
    // the same rows and fingerprints; file bytes match only within one JVM
    // (Parquet footers order each column chunk's encodings per run)
    assert(SnapshotTable.tableFingerprint(full) == SnapshotTable.tableFingerprint(resumed))
    // and re-running everything is a no-op
    runPipeline(full, 4)
    assert(SnapshotTable.currentSnapshot(full).version == 4)
  }

  test("full image+caption table through the snapshot layer: bytes + captions survive exactly") {
    val dir = freshDir()
    val images = ImageTable.synthesize(spark, 500).toDF()
      .withColumn("tile", graft.functions.st.cellId(
        graft.operators.SpatialOps.phashLon(col("phash")),
        graft.operators.SpatialOps.phashLat(col("phash")), 7))
    SnapshotTable.commitBatch(images, dir, "b0", "tile", Seq("image_id"), numPartitions = 4)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 500)
    // per-row invariant vs the generator (the "reference" for this table):
    // exact caption equality + exact bytes (PSNR 99 == identical pixels)
    val rows = back.select("image_id", "bytes", "caption", "fmt", "w", "h").collect()
    rows.foreach { r =>
      val id = r.getString(0).drop(3).toLong
      val ref = ImageTable.rowFor(id)
      assert(r.getString(2) == ref.caption, s"caption mismatch for img$id")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), ref.bytes), s"bytes img$id")
      assert(ImageTable.psnr(r.getAs[Array[Byte]](1), ref.bytes) == 99.0)
    }
  }

  test("fingerprints independent of parallelism (byte-match determinism)") {
    val a = freshDir(); val b = freshDir()
    SnapshotTable.commitBatch(batchDf(0, 4000, 2), a, "b0", "bucket", Seq("id"), numPartitions = 4)
    SnapshotTable.commitBatch(batchDf(0, 4000, 16), b, "b0", "bucket", Seq("id"), numPartitions = 4)
    assert(SnapshotTable.tableFingerprint(a) == SnapshotTable.tableFingerprint(b))
    val la = SnapshotTable.lineage(spark, a).orderBy("bucket").collect().toSeq
    val lb = SnapshotTable.lineage(spark, b).orderBy("bucket").collect().toSeq
    assert(la == lb)
    // data files byte-identical (canonical sort + fixed partition count);
    // both writes run in this JVM, the only scope where bytes are stable
    def bytes(dir: String): Seq[String] = {
      val d = java.nio.file.Paths.get(dir, "data", "bb0")
      import scala.jdk.CollectionConverters._
      Files.list(d).iterator().asScala.toSeq.filter(_.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
        .map(p => java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))))
    }
    assert(bytes(a) == bytes(b))
  }

  test("writer stats equal the read-back's: z-order and hash layouts, files split by maxRecordsPerFile") {
    val df = cellDf(5)
    def commitBoth(): (String, String) = {
      val (z, h) = (freshDir(), freshDir())
      assert(SnapshotTable.commitBatch(df, z, "b0", "bucket", Seq("id"), numPartitions = 8, zOrderRes = 5))
      assert(SnapshotTable.commitBatch(df, h, "b0", "bucket", Seq("id"), numPartitions = 8))
      assertStatsAsReadBack(z, df.schema)
      assertStatsAsReadBack(h, df.schema)
      (z, h)
    }
    def files(d: String) = SnapshotTable.currentSnapshot(d).batches.head.files
    val (z, h) = commitBoth()
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "700")
    val (zSplit, hSplit) = try commitBoth() finally spark.conf.unset(key)
    // several files per z-order block dir and per hash partition
    assert(files(zSplit).groupBy(_.takeWhile(_ != '/')).exists(_._2.size > 1))
    assert(files(zSplit).size > files(z).size && files(hSplit).size > files(h).size)
    assert(SnapshotTable.tableFingerprint(zSplit) == SnapshotTable.tableFingerprint(z))
  }

  test("writer stats equal the read-back's: nulls and binary columns outside the bucket column") {
    val df = cellDf(5)
      .withColumn("blob", when(col("id") % 5 === 0, lit(null).cast("binary"))
        .otherwise(st.mix64(col("id")).cast("string").cast("binary")))
      .withColumn("note", when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("n"), col("id").cast("string"))))
      .withColumn("x", when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") / 3))
    val (z, h) = (freshDir(), freshDir())
    assert(SnapshotTable.commitBatch(df, z, "b0", "bucket", Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.commitBatch(df, h, "b0", "bucket", Seq("id"), numPartitions = 8))
    assertStatsAsReadBack(z, df.schema)
    assertStatsAsReadBack(h, df.schema)
    assert(SnapshotTable.tableFingerprint(z) == SnapshotTable.tableFingerprint(h))
  }

  test("writer stats equal the read-back's: empty input") {
    val (z, h) = (freshDir(), freshDir())
    val empty = cellDf(5).filter(col("id") < 0)
    assert(SnapshotTable.commitBatch(empty, z, "b0", "bucket", Seq("id"), numPartitions = 8, zOrderRes = 5))
    assert(SnapshotTable.commitBatch(batchDf(0, 0, 2), h, "b0", "bucket", Seq("id"), numPartitions = 4))
    assertStatsAsReadBack(z, empty.schema)
    assertStatsAsReadBack(h, batchDf(0, 0, 2).schema)
    assert(SnapshotTable.tableFingerprint(z) == ((0L, 0L)) && SnapshotTable.tableFingerprint(h) == ((0L, 0L)))
  }

  test("writer stats equal the read-back's: two concurrent commits with distinct batch ids") {
    val dir = freshDir()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("p0" -> batchDf(0, 4000, 4), "p1" -> batchDf(1, 3000, 3)).map { case (id, df) =>
      new Thread(() =>
        try SnapshotTable.commitBatch(df, dir, id, "bucket", Seq("id"), numPartitions = 4)
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    assert(SnapshotTable.currentSnapshot(dir).batchIds == Set("p0", "p1"))
    assertStatsAsReadBack(dir, batchDf(0, 1, 1).schema)
  }

  test("writer stats equal the read-back's: compact; compact rejects a content mismatch") {
    val dir = freshDir()
    val df = cellDf(5)
    (0 until 3).foreach { b =>
      assert(SnapshotTable.commitBatch(df.filter(col("id") % 3 === b), dir, s"b$b", "bucket", Seq("id"),
        numPartitions = 8, zOrderRes = 5))
    }
    assert(SnapshotTable.compact(spark, dir, "bucket", Seq("id"), numPartitions = 8, zOrderRes = 5))
    assertStatsAsReadBack(dir, df.schema)
    // a source manifest whose fingerprint disagrees with its files: the
    // rewritten content does not match it, so compact throws and publishes
    // nothing
    val bad = freshDir()
    (0 until 2).foreach { b =>
      assert(SnapshotTable.commitBatch(batchDf(b, 500, 2), bad, s"b$b", "bucket", Seq("id")))
    }
    val manifest = Paths.get(bad, "snapshots", "v2.json")
    Files.writeString(manifest, Files.readString(manifest)
      .replaceFirst("\"fingerprint\":\"[0-9a-f]+\"", "\"fingerprint\":\"1234\""))
    val e = intercept[IllegalStateException] {
      SnapshotTable.compact(spark, bad, "bucket", Seq("id"), numPartitions = 2)
    }
    assert(e.getMessage.contains("content mismatch"))
    assert(SnapshotTable.currentVersion(bad) == 2 && !Files.exists(Paths.get(bad, "data", "bc3")))
  }

  test("a commit whose files on disk are not the files the writer reported throws and publishes nothing") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(batchDf(0, 500, 2), dir, "b0", "bucket", Seq("id")))
    val key = "spark.sql.parquet.output.committer.class"
    def part(out: Path) = {
      val listing = Files.list(out)
      try listing.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
      finally listing.close()
    }
    // a file appears in, or vanishes from, the batch dir as the job commits
    Seq[(String, Path => Unit)](
      "without writer stats [stray.parquet]" -> (out => Files.createFile(out.resolve("stray.parquet"))),
      "not on disk [part-" -> (out => Files.delete(part(out)))).foreach { case (says, tamper) =>
      TamperingCommitter.onCommit = tamper
      spark.conf.set(key, classOf[TamperingCommitter].getName)
      val e =
        try intercept[IllegalStateException] {
          SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id"))
        }
        finally { spark.conf.unset(key); TamperingCommitter.onCommit = _ => () }
      assert(e.getMessage.contains(says), e.getMessage)
      assert(SnapshotTable.currentVersion(dir) == 1 && !Files.exists(Paths.get(dir, "data", "bb1")))
    }
    assert(SnapshotTable.commitBatch(batchDf(1, 500, 2), dir, "b1", "bucket", Seq("id")))
    assert(SnapshotTable.read(spark, dir).count() == 1000)
  }

  test("readRange/readBuckets that select no file give an empty frame with the table's columns") {
    val dir = freshDir()
    assert(SnapshotTable.commitBatch(cellDf(5), dir, "b0", "bucket", Seq("id"),
      numPartitions = 8, zOrderRes = 5))
    val schema = SnapshotTable.read(spark, dir).schema
    val (byRange, selected, total) = SnapshotTable.readRange(spark, dir, Long.MaxValue - 1, Long.MaxValue)
    val (byBuckets, selected2, _) = SnapshotTable.readBuckets(spark, dir, Seq(-1L))
    assert(selected == 0 && selected2 == 0 && total > 0)
    Seq(byRange, byBuckets).foreach { f =>
      assert(f.schema == schema)
      assert(f.filter(col("bucket") >= 0L).count() == 0)
    }
  }
}
