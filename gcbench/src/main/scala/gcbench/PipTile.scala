package gcbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.EntryQueries
import graft.core.{CellIndex, GeomOps, Kernels, Wkb}
import graft.functions.st
import graft.operators.SpatialOps

/** The paper's pipeline: phash-derived points (30% in three hot cells)
  * joined to the district polygons plus seeded irregular polygons with the
  * broadcast cell-prefilter PIP join at res 7, z-order tile assignment, then
  * per-tile counts and an order-independent fingerprint. */
final class PipTile(spark: SparkSession, seed: Long, scale: Double, inject: Boolean)
    extends Workload {
  val stepNames = Seq("pipJoin", "tileAssign", "tileCounts")
  private val res = 7
  private val nPoints = math.max(2000L, (400000 * scale).toLong)
  private val base = Gen.pointBase(seed)
  def rows: Long = nPoints
  def digest: Long = Workload.hashOf(base.toString +: polys.map(p => graft.core.Wkt.write(p.geom)))

  val polys: Vector[Gen.Poly] = {
    val districts = EntryQueries.districtPolygons(spark).collect().toVector.zipWithIndex.map {
      case (r, i) => Gen.Poly(i, r.getString(0), Wkb.read(r.getAs[Array[Byte]](1)))
    }
    districts ++ Gen.polygons(seed, 48, districts.size)
  }
  private lazy val polyDf: DataFrame = {
    import spark.implicits._
    polys.map(p => (p.id, Wkb.write(p.geom))).toDF("poly", "geom")
  }
  private var points: DataFrame = _

  def prepare(): Unit = {
    points = cache(spark.range(base, base + nPoints, 1, 8)
      .select(col("id"), st.phashFor(col("id")).as("phash"))
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
      .select("id", "lon", "lat"))
  }
  def releaseInputs(): Unit = if (points != null) points.unpersist(blocking = true)

  // ---------------- expected answer, by brute force ----------------

  /** tile -> (rows, xor of row hashes, sum of low 32 bits of row hashes) */
  private var expected: Map[Long, (Long, Long, Long)] = Map.empty
  private var victim: (Long, Int) = (-1L, -1)
  private var checked = false
  private var first: Array[Row] = Array.empty

  private def rowHash(id: Long, poly: Int): Long = XXH64.hashInt(poly, XXH64.hashLong(id, 42L))

  /** Every point against every polygon with the plain ray-cast
    * (`GeomOps.contains` behind a bbox test), outside the cell path. */
  def deepCheck(): Outcome = {
    val gs = polys.map(_.geom).toArray
    val bb = gs.map(_.bbox)
    val acc = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    var id = base
    while (id < base + nPoints) {
      val ph = Kernels.phashFor(id)
      val lon = Kernels.phashLon(ph); val lat = Kernels.phashLat(ph)
      var k = 0
      while (k < gs.length) {
        val b = bb(k)
        if (lon >= b._1 && lon <= b._3 && lat >= b._2 && lat <= b._4 && GeomOps.contains(gs(k), lon, lat)) {
          val h = rowHash(id, polys(k).id)
          val a = acc.getOrElseUpdate(CellIndex.encode(lon, lat, res), new Array[Long](3))
          a(0) += 1; a(1) ^= h; a(2) += h & 0xFFFFFFFFL
          if (victim._1 < 0) victim = (id, polys(k).id)
        }
        k += 1
      }
      id += 1
    }
    expected = acc.map { case (t, a) => t -> ((a(0), a(1), a(2))) }.toMap
    checked = true
    // covers above the 4096-cell cap coarsen; this check would count the rows
    val coarse = gs.count { g =>
      val n = 1L << res
      val (x0, y0, x1, y1) = g.bbox
      ((x1 - x0) / 360.0 * n + 2) * ((y1 - y0) / 180.0 * n + 2) > 4096
    }
    System.err.println(s"[gcbench] polygons whose res-$res bbox cover may exceed 4096 cells: $coarse")
    Outcome.all(Outcome.check(expected.nonEmpty, "brute force found no point in any polygon"),
      compare(first))
  }

  // ---------------- one iteration ----------------

  private var ops = OpCounts(0, 0)
  def lastOps: OpCounts = ops

  private def pipeline(tr: Trace): DataFrame = {
    val joined0 = stage(tr, "pipJoin",
      SpatialOps.pipJoin(points, col("lon"), col("lat"), polyDf, "geom", res = res))
    val joined =
      if (inject) joined0.filter(!(col("id") === victim._1 && col("poly") === victim._2)) else joined0
    stage(tr, "tileAssign",
      SpatialOps.tileAssign(joined, col("lon"), col("lat"), tileRes = res, numPartitions = 8,
        sortCols = Seq("id")))
  }

  def iterate(tr: Trace): Outcome = {
    val tiled = pipeline(tr)
    val h = xxhash64(col("id"), col("poly"))
    val got = tr.span("tileCounts") {
      tiled.groupBy("tile")
        .agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
        .collect()
    }
    if (tr.enabled) ops = OpCounts(candidates, got.map(_.getLong(1)).sum.toDouble)
    if (checked) compare(got) else { first = got; Outcome.Ok }
  }

  /** Rows the res-7 cell prefilter hands to the exact test: per cell, points
    * in it times polygon covers holding it (the cover and cell functions
    * `pipJoin` joins on). Fixed by the inputs, so counted once. */
  private lazy val candidates: Double = {
    val perCell = points.groupBy(st.cellId(col("lon"), col("lat"), res).as("cell")).agg(count(lit(1)).as("np"))
    val covers = polyDf.select(explode(st.cellCover(col("geom"), res)).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("nc"))
    perCell.join(covers, "cell").agg(sum(col("np") * col("nc"))).head().getLong(0).toDouble
  }

  private def compare(got: Array[Row]): Outcome = {
    val m = got.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    Outcome.check(m == expected, {
      val bad = (m.keySet ++ expected.keySet).filter(t => m.get(t) != expected.get(t))
      s"${bad.size} tiles differ from brute force (rows ${m.values.map(_._1).sum} vs ${expected.values.map(_._1).sum})"
    })
  }

  def cleanup(): Unit = { unforce(); graft.operators.CacheTracker.releaseAll() }

  // ---------------- lookups: one tile's row count ----------------

  private var tiles: Array[Long] = Array.empty
  private var lookupFrame: DataFrame = _

  /** Serves the per-tile counts of the first (checked) iteration from a
    * cached table of (tile, rows). */
  def lookupSetup(): Unit = {
    import spark.implicits._
    lookupFrame = cache(first.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("tile", "n").coalesce(1))
    tiles = expected.keys.toArray.sorted
  }

  def lookup(rnd: Random): Outcome = {
    val t = tiles(rnd.nextInt(tiles.length))
    val n = lookupFrame.filter(col("tile") === t).collect().map(_.getLong(1)).toSeq
    Outcome.check(n == Seq(expected(t)._1), s"tile $t: $n rows, brute force ${expected(t)._1}")
  }

  def close(): Unit = {
    if (lookupFrame != null) lookupFrame.unpersist(blocking = true)
    releaseInputs()
  }
}
