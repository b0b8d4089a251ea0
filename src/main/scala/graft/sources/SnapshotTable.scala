package graft.sources

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Expression,
  In, InSet, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.core.{Json, JValue, JObj, JArr, JStr, JNum}
import StatsParquetFormat.FileBucketStat

/** Minimal Iceberg-style snapshot/manifest table layout on Parquet
  * (SURVEY.md §7.1 — no Iceberg jar ships offline; swapping in real Iceberg
  * later is a sink change only):
  *
  * {{{
  *   table/
  *     data/b<batchId>/part-*.parquet      (z-order bucketed, sorted)
  *     snapshots/v<k>.json                 (full manifest at version k)
  *     snapshots/LATEST                    (current version number)
  * }}}
  *
  * Each snapshot records, per committed batch: the data files, row count,
  * an order-independent content fingerprint (XOR of per-row xxhash64 over
  * all columns — identical at any parallelism), per-bucket lineage
  * metrics (rows + fingerprint per z-order bucket) and per-file bucket
  * ranges. The Parquet writer computes these stats from the rows it writes
  * ([[StatsParquetFormat]]), in the write job itself; a commit checks that
  * the files it lists on disk are the files the writer reported, and
  * [[compact]] also reads its rewritten files back to verify them. This
  * gives:
  *
  *  - exact resume: a re-run skips batches already in the manifest and
  *    converges to the same table: manifests, fingerprints and rows are
  *    identical across runs. Data file bytes are identical only within one
  *    JVM: Parquet footers list each column chunk's encodings in an order
  *    that can differ between JVM runs (checkpoint/resume mandate)
  *  - per-partition lineage + metrics for the scaling/byte-match gates
  *  - snapshot isolation: readers list files from a manifest version, never
  *    the directory (orphan files from killed writers are invisible)
  *  - one scan path: every read ([[read]], [[readAt]], [[readRange]],
  *    [[readBuckets]], [[compact]]'s source) is a Parquet scan over the
  *    snapshot's [[ManifestIndex]], so a plain filter on the bucket column
  *    skips files from the manifest alone, and opening a table runs no job
  */
object SnapshotTable {

  /** Thrown when two writers race to publish the same next snapshot version
    * — the loser's data files are intact but unreferenced; re-read the
    * current snapshot and retry the publish (a [[commitBatch]] retries
    * automatically; a [[compact]] must NOT auto-retry, its source set may
    * have changed under it). */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  final case class BucketStat(bucket: Long, rows: Long, fingerprint: Long)
  /** Iceberg-manifest-style per-file column stats: the min/max of the
    * batch's bucket column per data file, recorded at commit so readers can
    * skip whole files from the manifest alone (see [[ManifestIndex]]). */
  final case class FileStat(file: String, minBucket: Long, maxBucket: Long, rows: Long)
  /** `bucketCol` names the column the file stats bound; a batch without it
    * (older manifests) is read unpruned. */
  final case class Batch(batchId: String, files: Vector[String], rows: Long,
      fingerprint: Long, buckets: Vector[BucketStat],
      fileStats: Vector[FileStat] = Vector.empty, bucketCol: Option[String] = None)
  final case class Snapshot(version: Int, batches: Vector[Batch]) {
    def batchIds: Set[String] = batches.map(_.batchId).toSet
  }

  // ---------------- manifest io ----------------

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")

  def currentVersion(table: String): Int = {
    val latest = snapDir(table).resolve("LATEST")
    var v = if (Files.exists(latest)) Files.readString(latest).trim.toInt else 0
    // heal the publish gap: a writer creates v{N+1}.json (the CAS token)
    // BEFORE updating LATEST — if it crashed or hasn't gotten there yet, the
    // newer version file IS the committed truth (its CREATE_NEW succeeded);
    // probing forward keeps every reader/writer on the real head instead of
    // spinning conflicts against a stale LATEST
    while (Files.exists(snapDir(table).resolve(s"v${v + 1}.json"))) v += 1
    v
  }

  def currentSnapshot(table: String): Snapshot = {
    val v = currentVersion(table)
    if (v == 0) Snapshot(0, Vector.empty) else snapshotAt(table, v)
  }

  private def renderSnapshot(s: Snapshot): String =
    JObj.of(
      "version" -> JNum(s.version),
      "batches" -> JArr(s.batches.map { b =>
        JObj.of(Seq(
          "batchId" -> JStr(b.batchId),
          "files" -> JArr(b.files.map(JStr(_))),
          "rows" -> JNum(b.rows),
          "fingerprint" -> JStr(java.lang.Long.toHexString(b.fingerprint)),
          "buckets" -> JArr(b.buckets.map { st =>
            JObj.of("bucket" -> JStr(st.bucket.toString), "rows" -> JNum(st.rows),
              "fingerprint" -> JStr(java.lang.Long.toHexString(st.fingerprint)))
          }),
          "fileStats" -> JArr(b.fileStats.map { fs =>
            JObj.of("file" -> JStr(fs.file), "minBucket" -> JStr(fs.minBucket.toString),
              "maxBucket" -> JStr(fs.maxBucket.toString), "rows" -> JNum(fs.rows))
          })) ++ b.bucketCol.map(c => "bucketCol" -> JStr(c)): _*)
      })).render

  private def parseSnapshot(s: String): Snapshot = {
    val o = Json.parse(s).asInstanceOf[JObj]
    def num(v: JValue): Double = v.asInstanceOf[JNum].v
    def str(v: JValue): String = v.asInstanceOf[JStr].v
    // bucket ids are written as exact decimal strings: as JSON numbers
    // (older manifests) cell ids above 2^53 come back rounded
    def long(v: JValue): Long = v match {
      case JStr(x) => x.toLong
      case n       => num(n).toLong
    }
    val batches = o("batches").asInstanceOf[JArr].items.map { bv =>
      val b = bv.asInstanceOf[JObj]
      Batch(
        str(b("batchId")),
        b("files").asInstanceOf[JArr].items.map(str),
        num(b("rows")).toLong,
        java.lang.Long.parseUnsignedLong(str(b("fingerprint")), 16),
        b("buckets").asInstanceOf[JArr].items.map { sv =>
          val st = sv.asInstanceOf[JObj]
          BucketStat(long(st("bucket")), num(st("rows")).toLong,
            java.lang.Long.parseUnsignedLong(str(st("fingerprint")), 16))
        },
        // absent in pre-round-2 manifests: falls back to no file skipping.
        // Numeric bounds (older manifests) may be rounded, so such a file
        // keeps no stat and every read lists it unpruned.
        b.get("fileStats").map(_.asInstanceOf[JArr].items.flatMap { fv =>
          val fs = fv.asInstanceOf[JObj]
          (fs("minBucket"), fs("maxBucket")) match {
            case (JStr(lo), JStr(hi)) =>
              Some(FileStat(str(fs("file")), lo.toLong, hi.toLong, num(fs("rows")).toLong))
            case _ => None
          }
        }).getOrElse(Vector.empty),
        b.get("bucketCol").map(str))
    }
    Snapshot(num(o("version")).toInt, batches)
  }

  // ---------------- write path ----------------

  /** Commit one batch: skip if `batchId` is already in the manifest (exact
    * resume). Data is partitioned on `bucketCol` into `numPartitions` files
    * and sorted within partitions by (`bucketCol`, `sortCols`) — byte-stable
    * at any parallelism. Returns true if written, false if skipped.
    *
    * Stats: the Parquet writer computes the batch's manifest stats from the
    * rows it writes, so a commit runs only the write's jobs and reads
    * nothing back. When the files listed on disk are not the files the
    * writer reported, the commit throws and publishes nothing.
    *
    * Concurrency: DISTINCT batchIds may commit concurrently — each writes
    * its own data dir and [[publish]] CASes the snapshot version (losers
    * retry; a published batch reports its retries as an `obs` decision).
    * Two writers racing the SAME batchId remain the caller's exclusion to
    * provide (they would race Spark's overwrite inside one dir): sequential
    * same-id replay is the supported resume shape, which is what Structured
    * Streaming's epoch contract delivers.
    *
    * Layout: NOT repartitionByRange — its boundaries are sampled from the
    * input layout and vary with parallelism, breaking file byte-stability.
    * Instead:
    *  - `zOrderRes ≥ 0` (bucket values are cell ids at that res): partition
    *    by the high bits of the cell's morton code — a pure function of the
    *    value that is both byte-stable AND range-clustered, so each file
    *    covers a contiguous z-order block and the manifest's per-file
    *    [min,max] bucket stats ([[ManifestIndex]]) actually skip files.
    *  - otherwise: plain hash placement (byte-stable; each bucket whole in
    *    one file; no cross-file range clustering).
    */
  def commitBatch(df: DataFrame, table: String, batchId: String,
      bucketCol: String, sortCols: Seq[String], numPartitions: Int = 16,
      zOrderRes: Int = -1): Boolean = {
    val snap = currentSnapshot(table)
    if (snap.batchIds.contains(batchId)) return false
    val batch = writeBatch(df, table, batchId, bucketCol, sortCols,
      numPartitions, zOrderRes)
    // lock-free commit: publish CASes on the version file; on conflict the
    // batch's data files are untouched (they live under this batchId's own
    // dir), so re-reading the winner's snapshot and re-appending is safe —
    // unless the winner already committed this very batchId (resume race).
    var attempts = 0
    while (true) {
      val cur = currentSnapshot(table)
      if (cur.batchIds.contains(batchId)) return false
      try {
        publish(table, Snapshot(cur.version + 1, cur.batches :+ batch))
        graft.obs.decision("commitBatch", "batch" -> batchId, "casRetries" -> attempts)
        return true
      } catch {
        case e: ConcurrentCommitException =>
          // a winner that claimed the lock may not have finished its
          // tmp→move yet (currentVersion can't advance past the lock until
          // the manifest lands) — back off and re-read; ~2s of total grace
          // covers GC pauses on a loaded host before surfacing the conflict
          attempts += 1
          if (attempts >= 24) throw e
          Thread.sleep(7L * attempts)
      }
    }
    false // unreachable
  }

  /** Write one batch's data files and return its manifest entry WITHOUT
    * publishing a snapshot (shared by [[commitBatch]] and [[compact]]). The
    * stats come from the writer, per written file; a listed file the writer
    * did not report, or a reported file that is not on disk, fails the
    * write loudly and removes the batch dir. */
  private def writeBatch(df: DataFrame, table: String, batchId: String,
      bucketCol: String, sortCols: Seq[String], numPartitions: Int,
      zOrderRes: Int): Batch = {
    val batchDir = Paths.get(table, "data", s"b$batchId")
    // clean leftovers from a killed writer (invisible to readers anyway)
    if (Files.exists(batchDir)) deleteRec(batchDir)

    val (laidOut, partitionBy) =
      if (zOrderRes >= 0) {
        // z-order block = high bits of the cell's morton code — a pure
        // function of the value. partitionBy makes the block a DIRECTORY, so
        // each data file holds exactly one contiguous morton block: per-file
        // [min,max] stats become tight and bucket filters skip precisely,
        // independent of how block ids hash across shuffle tasks.
        val block = graft.operators.SpatialOps.zBlock(col(bucketCol), zOrderRes, numPartitions)
        (df.withColumn("__zblock", block)
          .repartition(numPartitions, col("__zblock"))
          .sortWithinPartitions(col("__zblock") +: (bucketCol +: sortCols).map(col): _*),
          Seq("__zblock"))
      } else {
        // generic buckets: hash placement (byte-stable; each bucket whole in
        // one file) — no cross-file range clustering, range filters read all
        (df.repartition(numPartitions, col(bucketCol))
          .sortWithinPartitions((bucketCol +: sortCols).map(col): _*), Nil)
      }
    val written = StatsParquetFormat.write(laidOut, batchDir.toString, bucketCol, partitionBy)

    // files keyed by path relative to the batch dir (NOT the leaf name:
    // under partitionBy a task writing two blocks emits the same part-XXXX
    // leaf in two dirs)
    val walk = Files.walk(batchDir)
    val files =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => batchDir.relativize(p).toString)
        .toVector.sorted
      finally walk.close()
    val reported = written.map(_.file).toSet
    if (reported != files.toSet) {
      deleteRec(batchDir)
      throw new IllegalStateException(
        s"commit b$batchId: files on disk without writer stats " +
          s"[${files.filterNot(reported).take(5).mkString(", ")}], reported files not on disk " +
          s"[${reported.diff(files.toSet).take(5).mkString(", ")}] — aborted, nothing published")
    }
    batchOf(batchId, bucketCol, files, written)
  }

  /** A batch's manifest entry from its files and per-(file, bucket) rows
    * and fingerprints, which may hold several runs of one (file, bucket):
    * rows add and fingerprints XOR. A file with no rows gets an empty
    * [min > max] range, always skippable. */
  private def batchOf(batchId: String, bucketCol: String, files: Vector[String],
      fine: Seq[FileBucketStat]): Batch = {
    val live = fine.filter(_.rows > 0)
    val buckets = live.groupBy(_.bucket).map { case (bucket, xs) =>
      BucketStat(bucket, xs.map(_.rows).sum, xs.map(_.fp).foldLeft(0L)(_ ^ _))
    }.toVector.sortBy(_.bucket)
    val byFile = live.groupBy(_.file)
    val fileStats = files.map(f => byFile.get(f).fold(FileStat(f, 0L, -1L, 0L)) { xs =>
      FileStat(f, xs.map(_.bucket).min, xs.map(_.bucket).max, xs.map(_.rows).sum)
    })
    Batch(batchId, files, buckets.map(_.rows).sum,
      buckets.map(_.fingerprint).foldLeft(0L)(_ ^ _), buckets, fileStats, Some(bucketCol))
  }

  /** The per-(file, bucket) rows and fingerprints of a batch's files, read
    * back from disk: one aggregation keyed by (file, bucket), folded on the
    * driver. `schema` is the one written, so no footer-inference job runs;
    * the inferred `__zblock` partition column is dropped, as fingerprints
    * cover the data columns only. */
  private def readBack(spark: SparkSession, table: String, batchId: String,
      schema: StructType, bucketCol: String): Seq[FileBucketStat] = {
    val dataCols = schema.fieldNames.toSeq.map(col)
    val relMarker = s"/b$batchId/"
    spark.read.schema(schema).parquet(Paths.get(table, "data", s"b$batchId").toString)
      .select(dataCols: _*)
      .groupBy(input_file_name().as("f"), col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("rows"), bit_xor(xxhash64(dataCols: _*)).as("fp"))
      .collect().toSeq.map { r =>
        val uri = r.getString(0)
        FileBucketStat(uri.substring(uri.lastIndexOf(relMarker) + relMarker.length),
          r.getLong(1), r.getLong(2), r.getLong(3))
      }
  }

  /** Publish snapshot `next` with an optimistic-concurrency check: the
    * version file is created with CREATE_NEW, so of two writers that both
    * read version N and race to publish N+1, exactly one wins — the loser
    * gets a retryable [[ConcurrentCommitException]] instead of silently
    * clobbering the winner's snapshot (a blind read-modify-write of LATEST
    * would lose one writer's batches). LATEST is written only by the winner,
    * after its version file exists. */
  private def publish(table: String, next: Snapshot): Unit = {
    Files.createDirectories(snapDir(table))
    // the CAS token is a CREATE_NEW (O_CREAT|O_EXCL — truly atomic) lock
    // file, separate from the manifest itself so the manifest can be written
    // tmp-then-rename: readers probing forward only ever see a COMPLETE
    // v{N}.json (a CREATE_NEW writeString would expose partially-written
    // JSON under the final name)
    try Files.createFile(snapDir(table).resolve(s"v${next.version}.lock"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"concurrent commit: snapshot v${next.version} already published by " +
            s"another writer — re-read the current snapshot and retry")
    }
    val tmp = snapDir(table).resolve(s".v${next.version}.json.tmp")
    Files.writeString(tmp, renderSnapshot(next))
    Files.move(tmp, snapDir(table).resolve(s"v${next.version}.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // LATEST too is replaced by rename: writing it in place exposes an
    // empty file to a concurrent currentVersion (NumberFormatException)
    val latestTmp = snapDir(table).resolve(s".LATEST.v${next.version}.tmp")
    Files.writeString(latestTmp, next.version.toString)
    Files.move(latestTmp, snapDir(table).resolve("LATEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Compact every committed batch into ONE batch — the small-file answer
    * for a long-running ingest (hundreds of micro-batch commits each with
    * `numPartitions` files ⇒ listing/open overhead dominates scans; the
    * Iceberg `rewrite_data_files` analog). Reads the current snapshot,
    * rewrites the union under the standard byte-stable layout as batch
    * `c<newVersion>`, VERIFIES content (reads the rewritten files back: their
    * rows + order-independent XOR fingerprint must equal the source
    * snapshot's, and their per-bucket and per-file stats the writer's — on
    * mismatch the new files are removed and compact throws; the table is
    * never corrupted),
    * then publishes a snapshot whose batch list is the single compacted
    * batch. `onlyBatchesUnderRows` makes it INCREMENTAL: only batches
    * under the threshold merge (bin-pack the accumulated small commits,
    * leave the big historical batches alone). Old batch directories stay
    * on disk for old-version readers (snapshot isolation — [[readAt]]);
    * reclaim them with [[vacuum]] once no reader needs them. Returns
    * false when there is nothing to compact. */
  def compact(spark: SparkSession, table: String, bucketCol: String,
      sortCols: Seq[String], numPartitions: Int = 16,
      zOrderRes: Int = -1,
      onlyBatchesUnderRows: Long = Long.MaxValue): Boolean = {
    val snap = currentSnapshot(table)
    // selective (incremental) mode: only batches under the row threshold
    // are merged — at ingest scale rewriting the big historical batches
    // every maintenance cycle would dwarf the ingest itself; the default
    // threshold folds everything (full compaction)
    val (small, big) = snap.batches.partition(_.rows < onlyBatchesUnderRows)
    if (small.length <= 1) return false
    val srcRows = small.map(_.rows).sum
    val srcFp = small.map(_.fingerprint).foldLeft(0L)(_ ^ _)
    val batchId = s"c${snap.version + 1}"
    val src = open(spark, table, Snapshot(snap.version, small))
    val batch = writeBatch(src, table, batchId, bucketCol,
      sortCols, numPartitions, zOrderRes)
    val back = batchOf(batchId, bucketCol, batch.files,
      readBack(spark, table, batchId, src.schema, bucketCol))
    if (back.rows != srcRows || back.fingerprint != srcFp || back != batch) {
      deleteRec(Paths.get(table, "data", s"b$batchId"))
      throw new IllegalStateException(
        s"compact: rewritten content mismatch (rows ${back.rows} vs $srcRows, " +
          s"fp ${back.fingerprint.toHexString} vs ${srcFp.toHexString}, writer stats " +
          s"${if (back == batch) "agree" else "disagree"}) — aborted, table unchanged")
    }
    publish(table, Snapshot(snap.version + 1, big :+ batch))
    true
  }

  /** Delete data directories referenced by NO batch of the last
    * `retainVersions` snapshots (orphans from killed writers, batches
    * replaced by [[compact]] that have aged out of the retention window).
    * Time travel via [[readAt]] keeps working for every retained version;
    * older versions' manifests stay readable as metadata but their
    * vacuumed data dirs are gone — [[readAt]] detects that and throws a
    * clear retention error rather than a parquet FileNotFound mid-scan.
    * `retainVersions = 1` (the default) keeps only the current snapshot —
    * maximal reclaim, all history destroyed; run that only once no
    * old-version reader exists. Returns the deleted directory names. */
  def vacuum(table: String, retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    val dataDir = Paths.get(table, "data")
    if (!Files.exists(dataDir)) return Nil
    val cur = currentVersion(table)
    val live = (math.max(1, cur - retainVersions + 1) to cur).flatMap { v =>
      snapshotAt(table, v).batches.map(b => s"b${b.batchId}")
    }.toSet
    val listing = Files.list(dataDir)
    val gone =
      try listing.iterator().asScala
        .filter(p => !live.contains(p.getFileName.toString)).toVector
      finally listing.close()
    gone.foreach(deleteRec)
    gone.map(_.getFileName.toString)
  }

  // ---------------- read path ----------------

  /** Read the table at its current snapshot: one scan over a
    * [[ManifestIndex]], so a filter on the bucket column skips files. */
  def read(spark: SparkSession, table: String): DataFrame =
    open(spark, table, currentSnapshot(table))

  /** Time travel: read the table AS OF an earlier snapshot version —
    * manifests are immutable and retained, so any version remains readable
    * until [[vacuum]]'s retention window drops the data dirs it references
    * (then this throws a clear retention error, checked up front, rather
    * than a parquet FileNotFound mid-scan). */
  def readAt(spark: SparkSession, table: String, version: Int): DataFrame = {
    require(version >= 1 && version <= currentVersion(table),
      s"version $version out of [1, ${currentVersion(table)}]")
    val snap = snapshotAt(table, version)
    val missing = snap.batches.map(_.batchId)
      .filterNot(id => Files.exists(Paths.get(table, "data", s"b$id")))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot v$version is no longer readable: batch dir(s) " +
        s"${missing.map("b" + _).mkString(", ")} were vacuumed (outside the " +
        s"retention window) — only versions whose data dirs were retained " +
        s"support time travel")
    open(spark, table, snap)
  }

  private def snapshotAt(table: String, version: Int): Snapshot =
    parseSnapshot(Files.readString(snapDir(table).resolve(s"v$version.json")))

  /** A snapshot as a frame over its [[ManifestIndex]]; opening it runs no
    * Spark job. A snapshot without files gives an empty frame. */
  private def open(spark: SparkSession, table: String, snap: Snapshot): DataFrame = {
    val index = ManifestIndex(table, snap)(spark.sparkContext.hadoopConfiguration)
    if (index.files.isEmpty) spark.emptyDataFrame
    else spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      index.dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The rows whose bucket lies in [lo, hi]: [[read]] plus one filter on
    * the manifest's bucket column. Returns (frame, selectedFiles,
    * totalFiles); the selected files are those the frame's scan lists. */
  def readRange(spark: SparkSession, table: String, lo: Long, hi: Long): (DataFrame, Int, Int) =
    readWhere(spark, table)(col(_).between(lo, hi))

  /** The rows of a DISCRETE bucket set (the IVF-probe shape: read only the
    * probed clusters), as [[readRange]] does for a range. */
  def readBuckets(spark: SparkSession, table: String,
      buckets: Seq[Long]): (DataFrame, Int, Int) =
    readWhere(spark, table)(col(_).isin(buckets: _*))

  /** The current snapshot filtered by `pred` on its bucket column, the
    * number of files the filtered frame's scan lists, and the snapshot's
    * file count. A table whose batches name no single bucket column is
    * read whole. */
  private def readWhere(spark: SparkSession, table: String)
      (pred: String => Column): (DataFrame, Int, Int) = {
    val snap = currentSnapshot(table)
    val all = open(spark, table, snap)
    val df = snap.batches.flatMap(_.bucketCol).distinct match {
      case Seq(c) if all.columns.contains(c) => all.where(pred(c))
      case _ => all
    }
    (df, df.queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles.toInt
    }.getOrElse(0), snap.batches.map(_.files.size).sum)
  }

  /** The file index of one snapshot: it lists only the manifest's files
    * (snapshot isolation) and drops a file when a conjunct on its batch's
    * bucket column cannot hold inside the file's [minBucket, maxBucket].
    * Only `=`, `<`, `<=`, `>`, `>=`, `In` and `InSet` against literals
    * prune; a file without stats or bucket column is always listed. The
    * data schema is the Spark row schema in one file's Parquet footer, read
    * on the driver and made nullable as a Parquet scan's is. Indexes over
    * the same snapshot are equal, so cache lookup and exchange reuse hold. */
  private final case class ManifestIndex(table: String, snap: Snapshot)(conf: Configuration)
      extends FileIndex {
    val files: Vector[(FileStatus, Option[String], Option[FileStat])] = snap.batches.flatMap { b =>
      val stats = b.fileStats.map(fs => fs.file -> fs).toMap
      b.files.map { f =>
        val p = new HPath(Paths.get(table, "data", s"b${b.batchId}", f).toAbsolutePath.toUri)
        (p.getFileSystem(conf).getFileStatus(p), b.bucketCol, stats.get(f))
      }
    }

    def dataSchema: StructType = {
      val json = Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(files.head._1, conf)))(
        _.getFooter.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      def nullable(t: DataType): DataType = t match {
        case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
        case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
        case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
        case o => o
      }
      nullable(DataType.fromJson(json)).asInstanceOf[StructType]
    }

    def rootPaths: Seq[HPath] = files.map(_._1.getPath)
    def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_._1.getLen).sum
    def partitionSchema: StructType = new StructType()

    def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.collect {
        case (status, c, fs) if c.zip(fs).forall { case (c, fs) => dataFilters.forall(mayHold(c, fs, _)) } => status
      }.toArray))

    /** False when conjunct `e` on column `c` holds for no bucket in the
      * file's bounds (an empty file, min > max, has none). */
    private def mayHold(c: String, fs: FileStat, e: Expression): Boolean = {
      val (lo, hi) = (fs.minBucket, fs.maxBucket)
      def on(x: Expression) = x match { case a: AttributeReference => a.name == c; case _ => false }
      def holds(op: String, v: Long) = lo <= hi && (op match {
        case "=" => lo <= v && v <= hi
        case "<" => lo < v
        case "<=" => lo <= v
        case ">" => hi > v
        case ">=" => hi >= v
        case _ => true
      })
      e match {
        case b: BinaryComparison => (b.left, b.right) match {
          case (a, Literal(v: Long, _)) if on(a) => holds(b.symbol, v)
          case (Literal(v: Long, _), a) if on(a) => // `v < a` is `a > v`
            holds(b.symbol.map { case '<' => '>'; case '>' => '<'; case ch => ch }, v)
          case _ => true
        }
        case In(a, vs) if on(a) => vs.exists { case Literal(v: Long, _) => holds("=", v); case _ => true }
        case InSet(a, vs) if on(a) => vs.exists { case v: Long => holds("=", v); case _ => true }
        case _ => true
      }
    }
  }

  /** Lineage metrics of the current snapshot as a DataFrame. */
  def lineage(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    currentSnapshot(table).batches.flatMap { b =>
      b.buckets.map(st => (b.batchId, st.bucket, st.rows, st.fingerprint))
    }.toDF("batch_id", "bucket", "rows", "fingerprint")
  }

  /** Exactly-once streaming ingest: wires a streaming DataFrame into a
    * snapshot table through `foreachBatch`. Structured Streaming delivers
    * micro-batches at-least-once after recovery (a failed epoch replays
    * with the SAME batch id); [[commitBatch]]'s manifest batch-id dedup
    * makes the sink idempotent, so the composition is exactly-once — the
    * continuous-ingest half of the checkpoint/resume mandate. The caller
    * starts the returned writer (checkpointLocation, trigger). Batch ids
    * are `s<epochId>`; the source must replay epochs deterministically
    * (the Structured Streaming file/Kafka source contract). */
  def streamingCommit(stream: DataFrame, table: String, bucketCol: String,
      sortCols: Seq[String], numPartitions: Int = 16, zOrderRes: Int = -1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (df: DataFrame, epochId: Long) =>
      commitBatch(df, table, s"s$epochId", bucketCol, sortCols,
        numPartitions, zOrderRes)
      ()
    }

  /** Whole-table fingerprint (order-independent): (rows, XOR of the batch
    * fingerprints). */
  def tableFingerprint(table: String): (Long, Long) = {
    val snap = currentSnapshot(table)
    (snap.batches.map(_.rows).sum, snap.batches.map(_.fingerprint).foldLeft(0L)(_ ^ _))
  }

  private[graft] def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list holds a directory handle until closed — an unclosed
      // stream per directory leaks handles across a long-running ingest
      // driver's periodic compact+vacuum cycles
      val listing = Files.list(p)
      val children = try listing.iterator().asScala.toVector finally listing.close()
      children.foreach(deleteRec)
    }
    Files.deleteIfExists(p)
  }
}
