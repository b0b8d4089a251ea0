package gcbench

import java.nio.file.Path
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.functions.{codecs, st}
import graft.sources.SnapshotTable

/** GeoConvert's own job: KML, GPX, WKT and GeoJSON documents decoded to
  * GeoJSON features, parsed to geometries, reduced to a centroid cell, and
  * committed in a fixed number of batches into a fresh snapshot table; then
  * tile reads. With `viaReadRange` the tile reads prune files through the
  * manifest's per-file bucket ranges (`SnapshotTable.readRange`), which
  * loses rows on this engine; see gcbench/README.md, "Known engine defect". */
final class ConvertIngest(spark: SparkSession, seed: Long, scale: Double, inject: Boolean,
    work: Path, viaReadRange: Boolean) extends Workload {
  val stepNames = Seq("decode", "commitBatch", "tileRead")
  private val res = 7
  private val batches = 2
  val geoDocs: Vector[Gen.GeoDoc] =
    Gen.geoDocs(seed, math.max(8, (200 * scale).toInt), math.max(4, (1000 * math.min(1.0, scale * 4)).toInt))
  private val expectedRows = geoDocs.map(_.feats.size.toLong).sum
  def rows: Long = geoDocs.size.toLong
  def digest: Long = Workload.hashOf(geoDocs.map(_.text))
  private var docs: DataFrame = _

  def prepare(): Unit = {
    import spark.implicits._
    docs = cache(geoDocs.map(d => (d.id, d.fmt, d.text)).toDF("doc_id", "fmt", "text").repartition(4))
  }
  def releaseInputs(): Unit = if (docs != null) docs.unpersist(blocking = true)

  /** Decoded feature rows: (doc_id, feat_idx, lon, lat, cell, geom). */
  private def decoded: DataFrame = {
    val text = col("text")
    val gj = when(col("fmt") === "kml", codecs.kmlToGeojson(text))
      .when(col("fmt") === "gpx", codecs.gpxToGeojson(text))
      .when(col("fmt") === "wkt", codecs.wktToGeojsonGc(text))
      .otherwise(text)
    val feats = docs.select(col("doc_id"), posexplode(codecs.geojsonFeatures(gj)).as(Seq("feat_idx", "feature")))
      .select(col("doc_id"), col("feat_idx"),
        st.geomFromGeoJson(get_json_object(col("feature"), "$.geometry")).as("geom"))
      .withColumn("c", st.centroid(col("geom")))
      .select(col("doc_id"), col("feat_idx"), st.x(col("c")).as("lon"), st.y(col("c")).as("lat"), col("geom"))
      .withColumn("cell", st.cellId(col("lon"), col("lat"), res))
    if (inject) feats.filter(!(col("doc_id") === 0L && col("feat_idx") === 0)) else feats
  }

  private var tableNo = 0
  private val tables = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def current: Path = tables.last

  /** Decode, then commit `batches` batches into a fresh table. */
  private def ingest(tr: Trace): Path = {
    tableNo += 1
    val table = work.resolve(s"table-$tableNo")
    tables += table
    val rowsDf = stage(tr, "decode", decoded)
    (0 until batches).foreach { b =>
      tr.span("commitBatch") {
        SnapshotTable.commitBatch(rowsDf.filter(col("doc_id") % batches === b), table.toString,
          s"$b", "cell", Seq("doc_id", "feat_idx"), numPartitions = 4, zOrderRes = res)
      }
    }
    table
  }

  // ---------------- expected answer ----------------

  private var expectedFp = 0L
  private var checked = false
  private var cells: Array[Long] = Array.empty

  /** Reads the first iteration's table back whole and checks it against the
    * generated documents: feature count per document, each centroid inside
    * its generated feature's bbox, and each cell equal to the centroid's
    * cell. */
  def deepCheck(): Outcome = {
    val table = current
    val got = SnapshotTable.read(spark, table.toString)
      .select("doc_id", "feat_idx", "lon", "lat", "cell").collect()
    val byDoc = got.groupBy(_.getLong(0))
    val wrongCount = geoDocs.count(d => byDoc.get(d.id).map(_.length).getOrElse(0) != d.feats.size)
    val eps = 1e-9
    val badGeom = got.count { r =>
      val d = geoDocs(r.getLong(0).toInt)
      val i = r.getInt(1)
      val (lon, lat) = (r.getDouble(2), r.getDouble(3))
      i >= d.feats.size || {
        val f = d.feats(i)
        lon < f.minx - eps || lon > f.maxx + eps || lat < f.miny - eps || lat > f.maxy + eps ||
          r.getLong(4) != CellIndex.encode(lon, lat, res)
      }
    }
    val (n, fp) = SnapshotTable.tableFingerprint(table.toString)
    expectedFp = fp
    checked = true
    cells = got.map(_.getLong(4)).sorted
    Outcome.all(
      Outcome.check(n == expectedRows && got.length == expectedRows,
        s"manifest rows $n, read ${got.length}, generated features $expectedRows"),
      Outcome.check(wrongCount == 0, s"$wrongCount documents with a wrong feature count"),
      Outcome.check(badGeom == 0, s"$badGeom features with a centroid or cell off their input"))
  }

  // ---------------- one iteration ----------------

  private var ops = OpCounts(0, 0)
  def lastOps: OpCounts = ops

  def iterate(tr: Trace): Outcome = {
    val table = ingest(tr)
    if (!checked) Outcome.Ok
    else {
      val (n, fp) = SnapshotTable.tableFingerprint(table.toString)
      Outcome.check(n == expectedRows && fp == expectedFp,
        s"manifest rows $n fingerprint $fp, expected $expectedRows / $expectedFp")
    }
  }

  /** The read step of a traced iteration: a fixed set of tile reads. Rows
    * read are the scans' input records, i.e. what file and row-group
    * pruning left. */
  override def tracedExtra(tr: Trace): Outcome = {
    val rnd = new Random(seed)
    var read = 0.0; var matched = 0.0
    val outs = (0 until 20).map { _ =>
      val (lo, hi) = block(rnd)
      val n = tr.span("tileRead")(readTile(lo, hi))
      read += tr.all.last.query.inputRecords; matched += n
      Outcome.check(n == expectedIn(lo, hi), s"range [$lo, $hi]: $n rows, full read gives ${expectedIn(lo, hi)}")
    }
    ops = OpCounts(read, matched)
    Outcome.all(outs: _*)
  }

  /** Deletes every table but the newest. */
  def cleanup(): Unit = {
    unforce()
    graft.operators.CacheTracker.releaseAll()
    while (tables.size > 1) Main.deleteTree(tables.remove(0))
  }

  // ---------------- lookups: tile reads after the commits ----------------

  /** One tile: a res-7 cell, as a single-cell range. Tiles are drawn from
    * those the ingest populated, so every read returns rows. */
  private def block(rnd: Random): (Long, Long) = {
    val c = cells(rnd.nextInt(cells.length))
    (c, c)
  }

  private def lowerBound(v: Long): Int = {
    var a = 0; var b = cells.length
    while (a < b) { val m = (a + b) >>> 1; if (cells(m) < v) a = m + 1 else b = m }
    a
  }
  private def expectedIn(lo: Long, hi: Long): Long = (lowerBound(hi + 1) - lowerBound(lo)).toLong

  /** The newest table's current snapshot, opened by the first read after
    * its commit and pinned for the reads that follow, as a reader does. */
  private var pinned: (Path, DataFrame) = (null, null)
  private def snapshot: DataFrame = {
    if (pinned._1 != current) pinned = (current, SnapshotTable.read(spark, current.toString))
    pinned._2
  }

  /** Rows of the current table in [lo, hi]. By default the pinned snapshot
    * is filtered, so Parquet's footer statistics skip files and row groups;
    * with `viaReadRange` the manifest picks the files first, per read. */
  private def readTile(lo: Long, hi: Long): Long =
    if (!viaReadRange) snapshot.filter(col("cell").between(lo, hi)).count()
    else {
      val (df, sel, _) = SnapshotTable.readRange(spark, current.toString, lo, hi)
      // with no file selected readRange returns a frame without columns
      if (sel == 0) 0L else df.filter(col("cell").between(lo, hi)).count()
    }

  def lookupSetup(): Unit = ()

  def lookup(rnd: Random): Outcome = {
    val (lo, hi) = block(rnd)
    val n = readTile(lo, hi)
    Outcome.check(n == expectedIn(lo, hi), s"range [$lo, $hi]: $n rows, full read gives ${expectedIn(lo, hi)}")
  }

  def close(): Unit = {
    releaseInputs()
    tables.foreach(Main.deleteTree)
    tables.clear()
  }
}
