package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{st, SparkTestSession}
import graft.core.{Wkb, Wkt, Kernels}
import graft.sources.ImageTable

class SpatialOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def seededPoints(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
      (pmod(st.mix64(col("id") + 1000000), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))

  test("pipJoin matches brute-force cross join on polygons with holes") {
    val polyWkts = Seq(
      "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 10 20, 20 20, 20 10, 10 10))",
      "POLYGON ((-120 -60, -60 -60, -90 -10, -120 -60))",
      "POLYGON ((100 10, 160 10, 160 70, 100 70, 100 10))")
    val polys = polyWkts.zipWithIndex
      .map { case (w, i) => (i.toLong, Wkb.write(Wkt.parse(w))) }
      .toDF("poly_id", "geom")
    val pts = seededPoints(3000).cache()
    val got = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res = 6)
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    val brute = pts.crossJoin(polys)
      .filter(st.contains(col("geom"), col("lon"), col("lat")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
    assert(brute.nonEmpty)
  }

  /** The reference PIP join: every point against every polygon. */
  private def bruteJoin(pts: DataFrame, polys: DataFrame): DataFrame =
    pts.crossJoin(polys).filter(st.contains(col("geom"), col("lon"), col("lat"))).drop("geom")

  /** Every node of `df`'s executed plan, inside AQE query stages too. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }

  test("pipJoin == crossJoin + st.contains on district polygons + random polygons") {
    val rnd = new scala.util.Random(5)
    def star(cx: Double, cy: Double, r: Double, n: Int) = {
      val ps = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n; val rr = r * (0.4 + 0.6 * rnd.nextDouble())
        graft.core.Pt(cx + rr * math.cos(a), cy + rr * math.sin(a))
      }.toVector
      ps :+ ps.head
    }
    import graft.core.{GMultiPolygon, GPolygon}
    val random = (0 until 40).map { i =>
      val cx = rnd.nextDouble() * 320 - 160; val cy = rnd.nextDouble() * 140 - 70
      val r = 1 + rnd.nextDouble() * 8
      val g =
        if (i % 4 == 0) GMultiPolygon(Vector(Vector(star(cx, cy, r, 9)), Vector(star(cx + r, cy, r / 2, 6))))
        else GPolygon(Vector(star(cx, cy, r, 5 + rnd.nextInt(20))) ++
          (if (i % 3 == 0) Vector(star(cx, cy, r / 4, 5)) else Vector.empty))
      (s"rand_$i", Wkb.write(g))
    }.toDF("district", "geom")
    val polys = graft.EntryQueries.districtPolygons(spark).union(random)
    val pts = spark.range(30000).select(col("id"), st.phashFor(col("id")).as("phash"))
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
      .cache()
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Double, String)].collect().toSeq.sortBy(t => (t._1, t._5))
    val brute = bruteJoin(pts, polys)
    val want = rows(brute)
    for (res <- Seq(6, 7)) {
      val a = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res)
      assert(a.schema == brute.schema)
      val got = rows(a)
      assert(got == want, s"res $res")
      assert(got.map(_._5).distinct.size > 20, s"res $res: too few polygons hit")
    }
  }

  test("pipJoin on the world rectangle, whose cell cover would coarsen, gives the brute-force rows") {
    val rect = Wkb.write(Wkt.parse("POLYGON ((-170 -80, 170 -80, 170 80, -170 80, -170 -80))"))
    val polys = Seq((0L, rect)).toDF("poly_id", "geom")
    val pts = spark.range(2000).select(col("id"),
      (pmod(st.mix64(col("id")), lit(339000L)).cast("double") / 1000.0 - 169.5).as("lon"),
      (pmod(st.mix64(col("id") + 1000000), lit(159000L)).cast("double") / 1000.0 - 79.5).as("lat"))
    val got = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res = 7)
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    val brute = bruteJoin(pts, polys).select("id", "poly_id").as[(Long, Long)].collect().toSet
    assert(brute.size == 2000)
    assert(got == brute)
  }

  test("pipJoin: null coordinates and null geometries match nothing; no polygons gives no rows") {
    val square = Wkb.write(Wkt.parse("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val polys = Seq((0L, square), (1L, null), (2L, square)).toDF("poly_id", "geom")
    val pts = Seq[(Long, Option[Double], Option[Double])](
      (0L, Some(5.0), Some(5.0)), (1L, None, Some(5.0)), (2L, Some(5.0), None),
      (3L, None, None), (4L, Some(20.0), Some(5.0))).toDF("id", "lon", "lat")
    val got = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res = 6)
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 0L), (0L, 2L)))
    assert(got == bruteJoin(pts, polys).select("id", "poly_id").as[(Long, Long)].collect().toSet)

    val none = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys.filter(lit(false)), "geom", res = 6)
    assert(none.schema == bruteJoin(pts, polys).schema)
    assert(none.collect().isEmpty)
  }

  test("pipJoin of two frames from one source keeps each side's columns apart") {
    val square = Wkb.write(Wkt.parse("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val src = Seq[(Long, Double, Double, Array[Byte])]((1L, 5.0, 5.0, null), (2L, 50.0, 5.0, null), (3L, 0.0, 0.0, square))
      .toDF("id", "lon", "lat", "geom")
    val got = SpatialOps.pipJoin(src.filter(col("geom").isNull).select("id", "lon", "lat"), col("lon"), col("lat"),
        src.filter(col("geom").isNotNull).select("id", "geom"), "geom", res = 6)
    assert(got.columns.toSeq == Seq("id", "lon", "lat", "id"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq == Seq((1L, 3L)))
  }

  test("pipJoin: one polygon frame joined at res 6 and res 7 in one plan, over a reused exchange") {
    val polys = graft.EntryQueries.districtPolygons(spark)
    val pts = seededPoints(20000).cache()
    def at(res: Int) = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res)
      .select(lit(res).as("res"), col("id"), col("district"))
    val both = at(6).union(at(7))
    val got = both.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val want = bruteJoin(pts, polys).select("id", "district").as[(Long, String)].collect().toSeq
    assert(want.nonEmpty)
    assert(got == (want.map { case (i, d) => (6, i, d) } ++ want.map { case (i, d) => (7, i, d) }).sorted)
    val nodes = planNodes(both)
    assert(nodes.count(_.isInstanceOf[graft.plans.PipJoinExec]) == 2)
    assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 1, both.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[ReusedExchangeExec]), both.queryExecution.executedPlan)
  }

  test("pipJoin plans one broadcast and no other join, and building it runs no job") {
    val polys = graft.EntryQueries.districtPolygons(spark).repartition(2)
    val pts = seededPoints(5000)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val joined = try {
      sc.setJobGroup("pip-build", "build a pipJoin frame")
      val df = SpatialOps.pipJoin(pts, col("lon"), col("lat"), polys, "geom", res = 7)
      // listener events arrive in order: once the probe's job is seen, any
      // job the build started has been seen too
      sc.setJobGroup("pip-probe", "probe job")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("pip-probe") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("pip-probe"))
      assert(!groups.contains("pip-build"), "building the pipJoin frame started a job")
      df
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(joined.collect().nonEmpty)
    val nodes = planNodes(joined)
    assert(nodes.count(_.isInstanceOf[graft.plans.PipJoinExec]) == 1)
    assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 1, joined.queryExecution.executedPlan)
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec] || n.isInstanceOf[CartesianProductExec]),
      joined.queryExecution.executedPlan)
  }

  test("saltedCellJoin == plain cell join rows") {
    val pts = seededPoints(2000)
      .withColumn("cell", st.cellId(col("lon"), col("lat"), 4))
    val dims = spark.range(50).select(col("id").as("dim_id"),
        (pmod(st.mix64(col("id") + 7), lit(360000L)).cast("double") / 1000.0 - 180.0).as("dlon"),
        (pmod(st.mix64(col("id") + 8), lit(170000L)).cast("double") / 1000.0 - 85.0).as("dlat"))
      .withColumn("cell", st.cellId(col("dlon"), col("dlat"), 4))
    val plain = pts.join(dims.withColumnRenamed("cell", "cell2"), col("cell") === col("cell2"))
      .select("id", "dim_id").as[(Long, Long)].collect().toSet
    val hot = SpatialOps.hotCells(pts, col("cell"), factor = 1.5, topN = 16)
    assert(hot.nonEmpty, "expected some hot cells at res 4")
    assert(hot.length <= 16)
    val salted = SpatialOps.saltedCellJoin(
        pts, col("cell"), col("id"), dims, col("cell"), hot.toSeq, saltFactor = 4)
      .select("id", "dim_id").as[(Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("knnJoin == brute-force kNN (incl. sparse regions forcing ring growth)") {
    val pts = seededPoints(2000).cache()
    // queries: some in dense area, some in empty ocean of the derived space
    val queries = Seq(
      (0L, 10.0, 10.0), (1L, -170.0, -80.0), (2L, 0.001, 0.001),
      (3L, 179.0, 84.0), (4L, -30.5, 42.25), (5L, 100.0, -84.9))
      .toDF("q_id", "q_lon", "q_lat")
    val got = SpatialOps.knnJoin(spark, queries, col("q_id"), col("q_lon"), col("q_lat"),
        pts, col("id"), col("lon"), col("lat"), k = 7, res = 8)
      .select("q_id", "p_id", "rn").as[(Long, Long, Long)].collect().toSet
    val brute = queries.crossJoin(pts)
      .withColumn("dist", st.sqDist(col("q_lon"), col("q_lat"), col("lon"), col("lat")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("dist"), col("id"))).cast("long"))
      .filter(col("rn") <= 7)
      .select(col("q_id"), col("id").as("p_id"), col("rn"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
    // force the large-query-set paths: anti-join pending first, then the
    // collected-pending InSet branch once the tail fits the tiny threshold
    val gotAnti = SpatialOps.knnJoin(spark, queries, col("q_id"), col("q_lon"), col("q_lat"),
        pts, col("id"), col("lon"), col("lat"), k = 7, res = 8, collectThreshold = 2L)
      .select("q_id", "p_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(gotAnti == brute)
  }

  test("knnJoinHaversine == brute haversine kNN (incl. high-latitude queries)") {
    // at lat ~84° a longitude cell is ~10× narrower in meters than a
    // latitude cell — the planar ring guarantee would stop too early there;
    // the lat-aware guarantee must still reproduce brute-force exactly
    val pts = seededPoints(2000).cache()
    val queries = Seq(
      (0L, 10.0, 10.0), (1L, 179.5, 84.5), (2L, -179.5, 84.6),
      (3L, 0.0, -84.9), (4L, -30.5, 42.25), (5L, 100.0, 70.0))
      .toDF("q_id", "q_lon", "q_lat")
    val got = SpatialOps.knnJoinHaversine(spark, queries, col("q_id"), col("q_lon"), col("q_lat"),
        pts, col("id"), col("lon"), col("lat"), k = 7, res = 8)
      .select("q_id", "p_id", "rn").as[(Long, Long, Long)].collect().toSet
    val brute = queries.crossJoin(pts)
      .withColumn("dist", st.haversine(col("q_lon"), col("q_lat"), col("lon"), col("lat")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("dist"), col("id"))).cast("long"))
      .filter(col("rn") <= 7)
      .select(col("q_id"), col("id").as("p_id"), col("rn"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("radiusPairs == brute-force planar pairs; partition-invariant; each pair once") {
    val pts = spark.range(3000).select(col("id"),
      (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
      (pmod(st.mix64(col("id") + 1000000), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
    def run(parts: Int) =
      SpatialOps.radiusPairs(pts.repartition(parts), col("id"), col("lon"), col("lat"),
          radiusDeg = 2.0, res = 6)
        .as[(Long, Long, Long)].collect()
    val got = run(3)
    assert(got.length == got.map(p => (p._1, p._2)).distinct.length, "pair emitted twice")
    assert(run(11).toSet == got.toSet, "must be partition-invariant")
    // brute model on quantized coords
    val local = pts.as[(Long, Double, Double)].collect()
      .map { case (i, lo, la) => (i, math.round(lo * 1000), math.round(la * 1000)) }
    val r2 = 2000L * 2000L
    val brute = (for {
      (ia, xa, ya) <- local; (ib, xb, yb) <- local if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) if d2 <= r2
    } yield (ia, ib, d2)).toSet
    assert(got.toSet == brute && brute.nonEmpty)
  }

  test("radiusJoin (two frames) == brute; each cross pair exactly once") {
    val mk = (n: Int, salt: Long) => spark.range(n).select(col("id"),
      (pmod(st.mix64(col("id") + salt), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
      (pmod(st.mix64(col("id") + salt + 1000000), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
    val l = mk(400, 7L); val r = mk(1500, 99L)
    val got = SpatialOps.radiusJoin(l, col("id"), col("lon"), col("lat"),
        r, col("id"), col("lon"), col("lat"), radiusDeg = 3.0, res = 5)
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.map(p => (p._1, p._2)).distinct.length)
    def pts(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Double)].collect()
        .map { case (i, lo, la) => (i, math.round(lo * 1000), math.round(la * 1000)) }
    val r2 = 3000L * 3000L
    val brute = (for {
      (ia, xa, ya) <- pts(l); (ib, xb, yb) <- pts(r)
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) if d2 <= r2
    } yield (ia, ib, d2)).toSet
    assert(got.toSet == brute && brute.nonEmpty)
  }

  test("radiusPairs: quantization-slack band at the cell-height boundary (ADVICE r04 regression)") {
    // cells come from TRUE coords, membership from round(coord·scale): a
    // pair with quantized distance == qr can sit ⌊(radius+1/scale)/h⌋+1
    // cells apart. res=6 ⇒ h=2.8125; radiusDeg=2.812 is within 1/scale of a
    // multiple of h — the band the old k=⌈radius/h⌉ silently dropped.
    val adversarial = Seq((1L, 0.0, -84.3754), (2L, 0.0, -81.5625), (3L, 10.0, 50.0))
      .toDF("id", "lon", "lat")
    val got = SpatialOps.radiusPairs(adversarial, col("id"), col("lon"), col("lat"),
        radiusDeg = 2.812, res = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"boundary pair dropped: $got")
    // and the generic brute equality holds AT the adversarial radius
    val pts = seededPoints(2000)
    val eng = SpatialOps.radiusPairs(pts, col("id"), col("lon"), col("lat"),
        radiusDeg = 2.812, res = 6)
      .as[(Long, Long, Long)].collect().toSet
    val local = pts.as[(Long, Double, Double)].collect()
      .map { case (i, lo, la) => (i, math.round(lo * 1000), math.round(la * 1000)) }
    val r2 = 2812L * 2812L
    val brute = (for {
      (ia, xa, ya) <- local; (ib, xb, yb) <- local if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) if d2 <= r2
    } yield (ia, ib, d2)).toSet
    assert(eng == brute && brute.nonEmpty)
  }

  /** Points spanning the polar caps and the antimeridian — the cases where
    * planar-degree radii lie and the lat-aware rect prefilter must widen. */
  def globalPoints(n: Int, salt: Long): DataFrame =
    spark.range(n).select(col("id"),
      (pmod(st.mix64(col("id") + salt), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
      (pmod(st.mix64(col("id") + salt + 1000000), lit(179000L)).cast("double") / 1000.0 - 89.5).as("lat"))

  test("radiusPairsHaversine == brute haversine pairs (incl. polar caps + antimeridian)") {
    val extremes = Seq(
      (100001L, 179.95, 89.2), (100002L, -179.95, 89.3), (100003L, 0.0, 89.9),
      (100004L, 90.0, -89.8), (100005L, -90.0, -89.85), (100006L, 179.9, -0.01),
      (100007L, -179.9, 0.01)).toDF("id", "lon", "lat")
    val pts = globalPoints(1200, 3L).unionByName(extremes).cache()
    val radius = 300000.0 // 300 km
    val local = pts.as[(Long, Double, Double)].collect()
    val brute = (for {
      (ia, loa, laa) <- local; (ib, lob, lab) <- local if ia < ib
      if graft.core.GeomOps.haversine(loa, laa, lob, lab) <= radius
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty)
    // the polar points MUST participate (the polar-band path is exercised)
    assert(brute.exists { case (a, b) => a > 100000L || b > 100000L },
      "test corpus produced no polar pairs — weaken nothing, fix the data")
    // three cap regimes: default (band above ~85°), aggressive cap 2 (band
    // reaches far lower — much more band traffic), and cap ≥ n/2 (banding
    // off, pure rect with full-wrap rows) — all must equal brute exactly
    for (cap <- Seq(16, 2, 1000)) {
      val got = SpatialOps.radiusPairsHaversine(pts, col("id"), col("lon"), col("lat"),
          radius, res = 6, polarKxCap = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(got.length == got.distinct.length, s"cap=$cap: pair emitted twice")
      assert(got.toSet == brute, {
        val miss = brute -- got.toSet; val extra = got.toSet -- brute
        s"cap=$cap missing=$miss extra=$extra"
      })
    }
    // a radius spanning whole cells of longitude at every latitude cannot
    // be bounded outside the caps — must REQUIRE a coarser res, loudly
    intercept[IllegalArgumentException] {
      SpatialOps.radiusPairsHaversine(pts, col("id"), col("lon"), col("lat"),
        2000000.0, res = 10).count()
    }
  }

  test("radiusJoinHaversine (two frames) == brute; exactly once per cross pair") {
    val l = globalPoints(200, 7L)
      .unionByName(Seq((200001L, 0.0, 89.7), (200002L, -179.9, -89.6)).toDF("id", "lon", "lat"))
    val r = globalPoints(1000, 99L)
    val radius = 500000.0 // 500 km
    val got = SpatialOps.radiusJoinHaversine(l, col("id"), col("lon"), col("lat"),
        r, col("id"), col("lon"), col("lat"), radius, res = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.length == got.distinct.length)
    val lp = l.as[(Long, Double, Double)].collect()
    val rp = r.as[(Long, Double, Double)].collect()
    val brute = (for {
      (ia, loa, laa) <- lp; (ib, lob, lab) <- rp
      if graft.core.GeomOps.haversine(loa, laa, lob, lab) <= radius
    } yield (ia, ib)).toSet
    assert(got.toSet == brute && brute.nonEmpty)
  }

  test("clusterPoints == union-find over brute pairs; singletons kept; partition-invariant") {
    val pts = seededPoints(2500)
    def run(parts: Int) = SpatialOps.clusterPoints(pts.repartition(parts),
        col("id"), col("lon"), col("lat"), radiusDeg = 1.0, res = 7)
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    val got = run(3)
    graft.operators.CacheTracker.releaseAll()
    assert(run(11) == got, "clusters must be partition-invariant")
    graft.operators.CacheTracker.releaseAll()
    // model: union-find over the brute quantized pair set; singletons self
    val local = pts.as[(Long, Double, Double)].collect()
      .map { case (i, lo, la) => (i, math.round(lo * 1000), math.round(la * 1000)) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for { (ia, xa, ya) <- local; (ib, xb, yb) <- local if ia < ib
          if (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= 1000000L } {
      val (ra, rb) = (find(ia), find(ib)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = local.map { case (i, _, _) => i -> find(i) }.toMap
    assert(got == expected)
    assert(got.exists { case (i, c) => i == c && !got.exists(p => p._2 == c && p._1 != i) },
      "expected at least one singleton cluster")
    assert(got.exists { case (i, c) => i != c }, "expected at least one multi-point cluster")
  }

  test("tileAssign output is byte-identical across parallelism (2 vs 8)") {
    def run(parts: Int): Array[Byte] = {
      val s2 = spark.newSession()
      st.registerAll(s2)
      val pts = s2.range(5000).repartition(parts).select(col("id"),
        (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
        (pmod(st.mix64(col("id") + 1000000), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
      val tiled = SpatialOps.tileAssign(pts, col("lon"), col("lat"),
        tileRes = 6, numPartitions = 8, sortCols = Seq("id"))
      val rows = tiled.select("tile", "id").collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)}").mkString("\n")
      java.security.MessageDigest.getInstance("SHA-256").digest(rows.getBytes)
    }
    assert(java.util.Arrays.equals(run(2), run(8)))
  }

  test("tileAssign PER-FILE bytes are identical across parallelism (2 vs 8)") {
    // The contract VERDICT r03 flagged: not just global row order — each
    // WRITTEN FILE must be byte-identical whatever the input layout, which
    // repartitionByRange (input-sampled boundaries) cannot guarantee.
    // zBlock placement is a pure function of the tile value, so it can.
    def run(parts: Int): Map[String, String] = {
      val s2 = spark.newSession()
      st.registerAll(s2)
      val out = java.nio.file.Files.createTempDirectory("graft_tile_files").toString
      val pts = s2.range(5000).repartition(parts).select(col("id"),
        (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
        (pmod(st.mix64(col("id") + 1000000), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
      SpatialOps.tileAssign(pts, col("lon"), col("lat"),
          tileRes = 6, numPartitions = 8, sortCols = Seq("id"))
        .write.mode("overwrite").parquet(out)
      // file names carry a per-job UUID — key by the stable partition index
      val files = new java.io.File(out).listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val m = files.map { f =>
        val idx = f.getName.split("-")(1)
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val h = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        idx -> h.map("%02x".format(_)).mkString
      }.toMap
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      m
    }
    val a = run(2); val b = run(8)
    assert(a.nonEmpty && a == b)
  }
}

class DedupAnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic doc corpus: base docs + true near-duplicates. */
  def docs(n: Int): DataFrame = {
    // 4096 distinct synthetic words so unrelated docs share little vocabulary
    def word(k: Long): String = "w" + (Kernels.mix64(k) & 0xFFFL).toString
    val base = (0 until n).map { i =>
      val ws = (0 until 30).map(j => word(i.toLong * 131 + j))
      (i.toLong, ws.mkString(" "))
    }
    val dups = (0 until n / 5).map { i =>
      // near-dup of doc i: one word changed
      val (id, text) = base(i)
      (n + i.toLong, text.replaceFirst("\\w+$", "changed"))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("minhash LSH finds all true near-dups (verified by exact jaccard)") {
    val d = docs(100).cache()
    val cands = Dedup.minhashCandidates(d, col("doc_id"), col("text"))
    val verified = Dedup.jaccardVerify(cands, d, col("doc_id"), col("text"), minJaccard = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every (i, 100+i) pair is a true near-dup with jaccard >= 0.8
    val expected = (0 until 20).map(i => (i.toLong, 100L + i)).toSet
    assert(expected.subsetOf(verified), s"missing: ${expected -- verified}")
  }

  test("exact dedup counts duplicates") {
    val d = docs(50).unionAll(docs(50).filter(col("doc_id") < 10)) // 10 exact copies
    val res = Dedup.exact(d, col("text"), col("doc_id"))
    assert(res.filter(col("n_copies") >= 2).count() >= 10)
    assert(res.agg(sum("n_copies")).head().getLong(0) == d.count())
  }

  test("simhash: near-dups have small hamming distance") {
    val d = docs(60).cache()
    val sigs = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    (0 until 12).foreach { i =>
      val hd = java.lang.Long.bitCount(sigs(i.toLong) ^ sigs(60L + i))
      assert(hd <= 16, s"doc $i hamming $hd")
    }
    // unrelated docs should usually be far apart
    val far = (0 until 30).count(i => java.lang.Long.bitCount(sigs(i.toLong) ^ sigs(59L - i)) > 16)
    assert(far > 15)
  }

  test("minhash LSH == brute-force jaccard >= 0.6 on the real corpus (recall pinned)") {
    // q21's oracle is the brute-force SQL — valid only if LSH recall is 100%
    // at the threshold; this pins that equality engine-side at gate scale.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
    val lsh = Dedup.jaccardVerify(
        Dedup.minhashCandidates(d, col("doc_id"), col("text")),
        d, col("doc_id"), col("text"), minJaccard = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = d.select(col("doc_id"), st.shingleHashes(col("text"), 4).as("sh"))
    val brute = sh.toDF("id_a", "sh_a").crossJoin(sh.toDF("id_b", "sh_b"))
      .filter(col("id_a") < col("id_b"))
      .filter(st.jaccardSorted(col("sh_a"), col("sh_b")) >= 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"missing=${brute -- lsh} extra=${lsh -- brute}")
    assert(brute.nonEmpty)
    // the candidates themselves == a reference that reads only the public
    // signature: a pair is a candidate iff >= 2 of its 8 four-row bands are
    // equal and >= 35% of its 32 rows are; n_bands_matched is the number of
    // equal bands, and no pair comes out twice
    val sigs = d.select(col("doc_id"), Dedup.minhash(col("text"), 4, 32).as("sig"))
      .as[(Long, Array[Long])].collect()
    val ref = (for {
      (a, sa) <- sigs
      (b, sb) <- sigs if a < b
      nb = (0 until 8).count(k => (0 until 4).forall(r => sa(4 * k + r) == sb(4 * k + r)))
      frac = sa.indices.count(i => sa(i) == sb(i)).toDouble / 32
      if nb >= 2 && frac >= 0.35
    } yield (a, b, nb.toLong, frac)).toSet
    val got = Dedup.minhashCandidates(d, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double, Long)].collect()
    CacheTracker.releaseAll()
    assert(got.forall(_._5 == 0L), "no bucket may be dropped at sf0.001")
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length, "a pair appears twice")
    val gotSet = got.map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(gotSet == ref, s"missing=${ref -- gotSet} extra=${gotSet -- ref}")
    assert(ref.size >= 10, s"expected some candidates, reference has ${ref.size}")
  }

  test("minhash hot-bucket cap: degenerate corpus drops buckets, reports count, no blowup") {
    // 10k identical docs = one 10k-id bucket per band; with the cap they are
    // counted and dropped BEFORE collect_list, so the job stays small. Two
    // distinct near-dup docs survive to carry the metric column.
    val boiler = spark.range(10000).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated everywhere in the corpus").as("text"))
    val distinct = Seq(
      (20001L, "a genuinely unique document about rivers and harbours and tides"),
      (20002L, "a genuinely unique document about rivers and harbours and tide"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashCandidates(boiler.unionAll(distinct), col("doc_id"), col("text"),
      maxBucket = 100)
    val rows = out.collect()
    assert(rows.nonEmpty, "the distinct near-dup pair should survive")
    assert(rows.forall(_.getAs[Long]("n_dropped_buckets") == 8L),
      s"expected all 8 boilerplate band-buckets dropped, got ${rows.head}")
    assert(!rows.exists(r => r.getAs[Long]("id_a") < 20000L && r.getAs[Long]("id_b") < 20000L),
      "no boilerplate pairs should be emitted past the cap")
  }

  test("simhash pigeonhole pairs == brute-force hamming <= 3 (guaranteed recall)") {
    val d = docs(150).cache()
    val got = Dedup.simhashPairs(d, col("doc_id"), col("text"), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sigs = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("simhash blocking is sub-quadratic: candidate volume ~ n^2/2^width per block") {
    // 200k short random docs: all-pairs is 2e10; the 4×16-bit blocking should
    // inspect ~4·n²/2/65536 ≈ 1.2M candidate pairs. We assert the emitted
    // pair count stays ~6 orders below quadratic and the job completes fast.
    val n = 200000L
    val d = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 6).map(j => st.mix64(col("id") * 31 + j).cast("string")): _*).as("text"))
    val pairs = Dedup.simhashPairs(d, col("doc_id"), col("text"), maxHamming = 3).count()
    val quadratic = n * (n - 1) / 2
    assert(pairs < quadratic / 1000, s"pairs=$pairs not sub-quadratic (all-pairs=$quadratic)")
  }

  test("chunked pair generation: 64k-member in-cap bucket stays bounded per row/task") {
    // one bucket at the old failure size (65,536 members). Chunking must turn
    // it into C(64,2)+64 = 2,080 distributable chunk-pair rows, each carrying
    // ≤ chunkSize members per side (≤ chunkSize² pairs per exploded row) —
    // never one row that explodes 65536²/2 ≈ 2.1e9 pairs.
    val kept = spark.range(65536).select(
      lit(0).as("band"), lit(42L).as("bh"), lit(65536L).as("__bn"), struct(col("id")).as("x"))
    val rows = Dedup.chunkPairRows(kept, Seq("band", "bh"), chunkSize = 1024)
      .select(size(col("__xa")).as("na"), size(col("__xb")).as("nb"))
      .agg(count(lit(1)), max(col("na")), max(col("nb")))
      .head()
    assert(rows.getLong(0) == 2080L, s"chunk-pair rows = ${rows.getLong(0)}, want 2080")
    assert(rows.getInt(1) <= 1024 && rows.getInt(2) <= 1024,
      s"chunk sizes ${rows.getInt(1)}/${rows.getInt(2)} exceed the bound")
  }

  test("chunked pairs == unchunked: simhash output invariant under chunkSize") {
    val d = docs(150).cache()
    val whole = Dedup.simhashPairs(d, col("doc_id"), col("text"), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val chunked = Dedup.simhashPairs(d, col("doc_id"), col("text"), maxHamming = 3,
      chunkSize = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(chunked == whole, s"missing=${whole -- chunked} extra=${chunked -- whole}")
    // identical docs spanning many chunks: every unordered pair exactly once
    val same = spark.range(500).select(col("id").as("doc_id"),
      lit("identical text in every row of this block").as("text"))
    val pairs = Dedup.simhashPairs(same, col("doc_id"), col("text"),
      maxHamming = 0, chunkSize = 64)
    assert(pairs.count() == 500L * 499 / 2)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("banded embedding near-dup: planted near-copies found, predicate exact vs brute") {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
    val aug = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("emb"), x => x * 1.02 + 0.01).as("emb"))
    val corpus = base.unionAll(aug).cache()
    val got = Dedup.embeddingNearDupQuantized(corpus, col("vec_id"), col("emb"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // chunkSize 16: the corpus' buckets hold at most a few vectors, so 24
    // positive rescalings of vector 0 (same signature) add a 25-member
    // bucket to every band, which takes the chunked branch; the pair set
    // must not depend on the branch
    val cluster = base.filter(col("vec_id") === 0).crossJoin(spark.range(1, 25))
      .select((col("id") + 2000000L).as("vec_id"),
        transform(col("emb"), x => x * (col("id") / 1000.0 + 1.0)).as("emb"))
    val withCluster = corpus.unionAll(cluster)
    val largest = withCluster
      .select(posexplode(Dedup.bitBands(Ann.hyperplaneSig(col("emb"), 64),
        Seq(0 -> 16, 16 -> 16, 32 -> 16, 48 -> 16))).as(Seq("band", "bv")))
      .groupBy("band", "bv").count().agg(max("count")).head().getLong(0)
    assert(largest > 16, s"largest bucket $largest never reaches the chunked branch")
    val byChunk = Seq(Dedup.DefaultChunkSize, 16).map { chunk =>
      Dedup.embeddingNearDupQuantized(withCluster, col("vec_id"), col("emb"), chunkSize = chunk)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(byChunk(1) == byChunk(0),
      s"chunked: missing=${byChunk(0) -- byChunk(1)} extra=${byChunk(1) -- byChunk(0)}")
    assert(got.subsetOf(byChunk(0)) && byChunk(0).size >= got.size + 25 * 24 / 2)
    // brute: every pair passing the exact quantized predicate (no LSH)
    val qv = corpus.select(col("vec_id"),
      transform(col("emb"), x => round(x * 1000).cast("long")).as("q"))
    val brute = qv.toDF("id_a", "qa").crossJoin(qv.toDF("id_b", "qb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dq", aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y), lit(0L), (a, v) => a + v))
      .withColumn("na", aggregate(col("qa"), lit(0L), (a, v) => a + v * v))
      .withColumn("nb", aggregate(col("qb"), lit(0L), (a, v) => a + v * v))
      .filter(col("dq") > 0 && col("dq") * col("dq") * 400 >= col("na") * col("nb") * 361)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute), s"false positives: ${got -- brute}")
    assert(got.size >= (brute.size * 9) / 10, s"recall ${got.size}/${brute.size} < 0.9")
    assert(brute.size >= 45, s"expected ~50 planted near-dup pairs, brute found ${brute.size}")
  }

  test("embedding near-dup drop path keeps a pair whose FIRST agreeing band's bucket was dropped") {
    // 8 planes in 2 bands of 4 bits. Pair (1,2): identical vectors, so they
    // agree on both bands. 200 flood vectors share the pair's band-0 value,
    // so band 0's bucket (202 members) is dropped at maxBucket = 100, while
    // band 1 spreads the flood over 16 values. The first-agreeing-band
    // dedup would assign the pair to the dropped band 0 and lose it — the
    // engine must see the drop and emit the pair exactly once via band 1.
    val vecs = spark.range(20000).select(col("id"),
      array((0 until 16).map(j =>
        (pmod(st.mix64(col("id") * 31 + j), lit(2001L)) - 1000).cast("double") / 1000.0): _*)
        .as("emb"))
      .withColumn("b0", Ann.hyperplaneSig(col("emb"), 8).bitwiseAND(0xFL))
      .cache()
    val pairB0 = vecs.filter(col("id") === 0).head().getAs[Long]("b0")
    val pair = vecs.filter(col("id") === 0)
      .select(explode(array(lit(1L), lit(2L))).as("id"), col("emb"))
    val flood = vecs.filter(col("id") > 0 && col("b0") === pairB0).orderBy("id").limit(200)
      .select((col("id") + 100L).as("id"), col("emb"))
    assert(flood.count() == 200L)
    for (maxBucket <- Seq(100, 65536)) {
      val out = Dedup.embeddingNearDup(pair.unionByName(flood), col("id"), col("emb"),
          planes = 8, bands = 2, maxBucket = maxBucket)
        .select("id_a", "id_b", "n_dropped_buckets").as[(Long, Long, Long)].collect()
      CacheTracker.releaseAll()
      assert(out.count(p => p._1 == 1L && p._2 == 2L) == 1,
        s"maxBucket=$maxBucket: pair (1,2) must appear exactly once: ${out.toSeq}")
      val dropped = if (maxBucket == 100) 1L else 0L
      assert(out.forall(_._3 == dropped), s"maxBucket=$maxBucket: ${out.toSeq}")
    }
    vecs.unpersist()
  }

  test("chunked pairs == unchunked: minhash candidates invariant under chunkSize") {
    // 40 identical docs put one 40-member bucket in every band, above
    // chunkSize 16; n_bands_matched and sig_frac must not change
    val same = spark.range(40).select((col("id") + 10000L).as("doc_id"),
      lit("the very same paragraph of boilerplate in forty documents").as("text"))
    val d = docs(150).unionByName(same).cache()
    val byChunk = Seq(Dedup.DefaultChunkSize, 16).map { chunk =>
      Dedup.minhashCandidates(d, col("doc_id"), col("text"), chunkSize = chunk)
        .as[(Long, Long, Long, Double, Long)].collect().toSet
    }
    assert(byChunk(1) == byChunk(0),
      s"missing=${byChunk(0) -- byChunk(1)} extra=${byChunk(1) -- byChunk(0)}")
    assert(byChunk(0).count(p => p._1 >= 10000L && p._2 >= 10000L) == 40 * 39 / 2)
  }

  test("minhash candidates: each pair once with and without drops; no pair aggregate without drops") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def pairAggregates(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
          if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet == Set("id_a", "id_b") => a
    }.size
    val d = docs(150).cache()
    val healthy = Dedup.minhashCandidates(d, col("doc_id"), col("text"))
    val hr = healthy.select("id_a", "id_b", "n_dropped_buckets").as[(Long, Long, Long)].collect()
    assert(hr.nonEmpty && hr.forall(_._3 == 0L))
    assert(hr.map(r => (r._1, r._2)).distinct.length == hr.length, "a pair appears twice")
    assert(pairAggregates(healthy) == 0, healthy.queryExecution.optimizedPlan.toString)
    // 300 identical docs fill one bucket per band; at maxBucket = 100 all 8
    // are dropped, so the core takes the (id_a, id_b) dedup instead
    val same = spark.range(300).select((col("id") + 10000L).as("doc_id"),
      lit("the very same paragraph of boilerplate in three hundred documents").as("text"))
    val dropped = Dedup.minhashCandidates(d.unionByName(same), col("doc_id"), col("text"),
      maxBucket = 100)
    val dr = dropped.select("id_a", "id_b", "n_dropped_buckets").as[(Long, Long, Long)].collect()
    CacheTracker.releaseAll()
    assert(dr.nonEmpty && dr.forall(_._3 == 8L), dr.take(3).toSeq)
    assert(dr.map(r => (r._1, r._2)).distinct.length == dr.length, "a pair appears twice")
    assert(dr.map(r => (r._1, r._2)).toSet == hr.map(r => (r._1, r._2)).toSet)
    assert(pairAggregates(dropped) == 1)
    d.unpersist()
  }

  test("bandedPairs: n_bands_matched counts every agreeing band, dropped buckets included") {
    // 4 bands of 16 bits. Pair (1, 2) has equal signatures, so it agrees on
    // all 4 bands. 150 flood signatures share the pair's band-0 value and
    // nothing else, so at maxBucket = 100 band 0's 152-member bucket is
    // dropped: the pair still comes out once, via band 1, and its
    // n_bands_matched still counts the dropped band 0.
    val layout = Seq((0, 16), (16, 16), (32, 16), (48, 16))
    val pairSig = 0x123456789abcdef0L
    val flood = (1L to 150L).map(i => (100L + i, (pairSig & 0xFFFFL) | (i << 16) | (i << 32) | (i << 48)))
    val sigs = ((1L, pairSig) +: (2L, pairSig) +: flood).toDF("id", "sig")
    for (maxBucket <- Seq(100, 65536)) {
      val (pairs, nDropped, _) = Dedup.bandedPairs(sigs, "sig",
        s => layout.map(Dedup.bitBand(s, _)), maxBucket, Dedup.DefaultChunkSize)
      val out = pairs.select("id_a", "id_b", "n_bands_matched").as[(Long, Long, Long)].collect()
      CacheTracker.releaseAll()
      assert(out.map(p => (p._1, p._2)).distinct.length == out.length, s"maxBucket=$maxBucket")
      assert(out.filter(p => p._1 == 1L && p._2 == 2L).toSeq == Seq((1L, 2L, 4L)), s"maxBucket=$maxBucket")
      if (maxBucket == 100) {
        assert(nDropped == 1L && out.length == 1, s"${out.toSeq}")
      } else {
        assert(nDropped == 0L && out.length == 152 * 151 / 2)
        assert(out.forall(p => p._1 == 1L || p._3 == 1L), "flood pairs agree on band 0 only")
      }
    }
  }

  test("ivf ANN recall vs brute force >= 0.4 at probes=2") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Ann.bruteTopK(emb, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"), 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(emb, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"), 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall")
    assert(ivf.subsetOf(ivf)) // sanity
  }

  test("full training-data pipeline composes: decontaminate -> dedup -> near-dup -> quality -> mix -> budget") {
    // the end-to-end recipe a pipeline user would run, chained over one
    // corpus: every stage's output feeds the next with no schema glue
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalSet = base.filter(col("doc_id") < 10)
    def run(parts: Int): Set[(Long, Long)] = {
      val corpus = base.repartition(parts)
      // 1. benchmark decontamination
      val clean = Dedup.decontaminate(corpus, col("text"), evalSet, col("text"))
      // 2. exact dedup (keep the lowest doc_id per content)
      val keepIds = Dedup.exact(clean, col("text"), col("doc_id")).select("keep_id")
      val exactDeduped = clean.join(keepIds, clean("doc_id") === keepIds("keep_id"))
        .drop("keep_id")
      // 3. fuzzy near-dup prune, transitive-closure-correct: verified pairs
      // -> connected components -> keep each group's minimum id (dropping
      // id_b per pair would over-delete chains a-b, b-c)
      val cands = Dedup.minhashCandidates(exactDeduped, col("doc_id"), col("text"))
      val verified = Dedup.jaccardVerify(cands, exactDeduped, col("doc_id"), col("text"),
        minJaccard = 0.6)
      val losers = Dedup.connectedComponents(verified, col("id_a"), col("id_b"))
        .filter(col("comp") =!= col("id"))
        .select(col("id").as("doc_id"))
      val pruned = exactDeduped.join(losers, Seq("doc_id"), "left_anti")
      // 4. quality gate
      val quality = pruned.filter(TextOps.qualityScoreBp(col("text")) >= 2000)
      // 5. mixing recipe + 6. per-source budget
      val mixed = Mixing.stratifiedSample(quality, col("source"), col("doc_id"),
        (0 until 20).map(i => s"src$i" -> 1.0).toMap)
      val fin = Mixing.budgetCap(mixed.drop("copy"), col("source"), col("doc_id"),
        col("n_chars"), (0 until 20).map(i => s"src$i" -> 100000L).toMap)
      CacheTracker.releaseAll()
      fin.select("doc_id", "n_chars").as[(Long, Long)].collect().toSet
    }
    val a = run(3)
    assert(a.nonEmpty && a.size < 500, s"pipeline kept ${a.size} of 500")
    assert(!a.exists(_._1 < 10), "eval docs must not survive decontamination")
    val b = run(11)
    assert(a == b, "the whole pipeline must be partition-invariant")
  }

  test("decontaminate: eval docs and their near-dups removed, clean docs survive, no shuffle") {
    val d = docs(100).cache() // base 0..99 + near-dups 100..119 of docs 0..19
    val eval = d.filter(col("doc_id") < 10)
    val out = Dedup.decontaminate(d, col("text"), eval, col("text"))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "decontamination must be a broadcast anti join, not a shuffle")
    val kept = out.select("doc_id").as[Long].collect().toSet
    // removed: the eval docs themselves (J = 1) and their planted near-dups
    (0L until 10L).foreach(i => assert(!kept.contains(i) && !kept.contains(100L + i)))
    // everything unrelated to the eval set survives
    (10L until 100L).foreach(i => assert(kept.contains(i)))
    (110L until 120L).foreach(i => assert(kept.contains(i)))
  }

  test("decontaminateLarge == decontaminate (docs corpus and sf0.001 documents); no eval broadcast") {
    // 1. synthetic corpus with planted near-dups
    val d = docs(100).cache()
    val eval = d.filter(col("doc_id") < 10).select(col("text"))
    val exact = Dedup.decontaminate(d, col("text"), eval, col("text"))
      .select("doc_id").as[Long].collect().toSet
    val outL = Dedup.decontaminateLarge(d, col("doc_id"), col("text"), eval, col("text"))
    val large = outL.select("doc_id").as[Long].collect().toSet
    assert(large == exact, "LSH path must equal the exact broadcast path on this corpus")
    // the too-big-to-broadcast contract: no broadcast nested-loop anywhere
    // (the whole point of this operator); candidate generation is equi-joins
    assert(!outL.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "decontaminateLarge must never broadcast-NL the eval set")

    // 2. the q34 corpus (sf0.001 documents table), eval = doc_id < 20
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ev2 = base.filter(col("doc_id") < 20).select(col("text"))
    val exact2 = Dedup.decontaminate(base, col("text"), ev2, col("text"))
      .select("doc_id").as[Long].collect().toSet
    val large2 = Dedup.decontaminateLarge(base, col("doc_id"), col("text"), ev2, col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(large2 == exact2, "LSH path must equal the exact path on the q34 corpus")

    // 3. empty eval set: corpus passes through untouched
    val emptyEval = d.filter(col("doc_id") < 0).select(col("text"))
    val untouched = Dedup.decontaminateLarge(d, col("doc_id"), col("text"), emptyEval, col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(untouched == d.select("doc_id").as[Long].collect().toSet)
  }

  test("connectedComponents == union-find model; chains, cliques, partition-invariant, empty") {
    // deterministic pseudo-random graph: chains, cliques, isolated pairs
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0L until 10L).foreach(i => edges += ((i, i + 1)))            // chain 0..10 (diameter 10)
    (20L until 24L).foreach(i => (i + 1 to 24L).foreach(j => edges += ((i, j)))) // clique 20..24
    edges += ((100L, 200L)); edges += ((300L, 400L)); edges += ((200L, 300L)) // chain via hubs
    edges += ((500L, 501L))
    val df = edges.toSeq.toDF("ia", "ib")
    def run(parts: Int) =
      Dedup.connectedComponents(df.repartition(parts), col("ia"), col("ib"))
        .as[(Long, Long)].collect().toMap
    val got = run(3)
    // union-find model
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(got == expected)
    assert(got(10L) == 0L && got(24L) == 20L && got(400L) == 100L && got(501L) == 500L)
    assert(run(11) == got, "components must be partition-invariant")
    CacheTracker.releaseAll()
    // empty edge list
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("ia", "ib"), col("ia"), col("ib"))
    assert(empty.count() == 0)
    CacheTracker.releaseAll()
  }

  test("connectedComponents property sweep: 20 seeded random graphs == union-find") {
    (1 to 20).foreach { seed =>
      val nNodes = 40 + (Kernels.mix64(seed) & 63L).toInt
      val nEdges = 20 + (Kernels.mix64(seed * 31) & 127L).toInt
      val edges = (0 until nEdges).map { k =>
        val h = Kernels.mix64(seed * 100003L + k)
        val x = java.lang.Long.remainderUnsigned(h >>> 1, nNodes)
        val y = java.lang.Long.remainderUnsigned(Kernels.mix64(h) >>> 1, nNodes)
        (x, if (x == y) (y + 1) % nNodes else y)
      }
      val got = Dedup.connectedComponents(edges.toDF("ia", "ib"), col("ia"), col("ib"))
        .as[(Long, Long)].collect().toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
      assert(got == expected, s"seed $seed mismatch")
      CacheTracker.releaseAll()
    }
  }

  test("decontaminateLarge oversized eval buckets fail SAFE (over-drop, never under-drop)") {
    val d = docs(50).cache()
    // boilerplate eval set: many copies of doc 0's text -> every band bucket
    // it occupies exceeds maxEvalBucket=1 after distinct-by-content collapses
    // copies... so use two distinct contaminated texts per bucket instead:
    // doc 0 and its planted near-dup (doc 50) share band buckets
    val eval = d.filter(col("doc_id") === 0 || col("doc_id") === 50).select(col("text"))
    val out = Dedup.decontaminateLarge(d, col("doc_id"), col("text"), eval, col("text"),
      maxEvalBucket = 1)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // rows matching the oversized buckets are dropped outright — doc 0 and
    // doc 50 must be gone even though verification never ran for them
    assert(!kept.contains(0L) && !kept.contains(50L),
      "corpus rows in oversized eval buckets must be dropped, not silently kept")
    // unrelated docs survive
    assert(kept.contains(25L) && kept.contains(40L))
  }

  test("connectedComponents star fallback == union-find; long paths converge") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
    }
    // seeded sweep through the star-contraction phase (same generator as
    // the label-propagation sweep)
    (1 to 10).foreach { seed =>
      val nNodes = 40 + (Kernels.mix64(seed) & 63L).toInt
      val nEdges = 20 + (Kernels.mix64(seed * 31) & 127L).toInt
      val edges = (0 until nEdges).map { k =>
        val h = Kernels.mix64(seed * 100003L + k)
        val x = java.lang.Long.remainderUnsigned(h >>> 1, nNodes)
        val y = java.lang.Long.remainderUnsigned(Kernels.mix64(h) >>> 1, nNodes)
        (x, if (x == y) (y + 1) % nNodes else y)
      }
      val got = Dedup.connectedComponentsStar(edges.toDF("ia", "ib"), col("ia"), col("ib"))._1
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"seed $seed star mismatch")
      CacheTracker.releaseAll()
    }
    // a 200-node path (diameter 199): pointer-jumping label propagation
    // converges in O(log d) passes, within the label bound
    val path = (0L until 199L).map(i => (i, i + 1))
    val (lab, labRec) = graft.obs.record(spark) {
      Dedup.connectedComponents(path.toDF("ia", "ib"), col("ia"), col("ib"))
        .as[(Long, Long)].collect().toMap
    }
    assert(lab == (0L to 199L).map(_ -> 0L).toMap)
    val Seq(labCc) = labRec.of("connectedComponents")
    assert(labCc("star") == false && labCc("labelPasses").asInstanceOf[Int] <= Dedup.MaxLabelPasses)
    CacheTracker.releaseAll()
    // permuted-id path: the label bound runs out, star contraction takes
    // over, and its roots must be component minima, not id-0 luck
    val perm = (0L until 150L).sortBy(i => Kernels.mix64(i) ^ Long.MinValue)
    val permEdges = perm.sliding(2).map(w => (w(0), w(1))).toSeq
    val (gotP, rec) = graft.obs.record(spark) {
      Dedup.connectedComponents(permEdges.toDF("ia", "ib"), col("ia"), col("ib"))
        .as[(Long, Long)].collect().toMap
    }
    assert(gotP == unionFind(permEdges) && gotP.values.toSet == Set(0L))
    val Seq(cc) = rec.of("connectedComponents")
    assert(cc("star") == true && cc("labelPasses") == Dedup.MaxLabelPasses &&
      cc("passMs").asInstanceOf[Seq[Long]].length == Dedup.MaxLabelPasses &&
      cc("starRounds").asInstanceOf[Int] > 0, cc)
    CacheTracker.releaseAll()
    // empty input
    assert(Dedup.connectedComponentsStar(path.toDF("ia", "ib").limit(0), col("ia"), col("ib"))
      ._1.count() == 0)
    CacheTracker.releaseAll()
  }

  test("keepBest: argmax quality per cluster, singletons kept, ties to lowest id") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (5L, 50L), (6L, 60L))
      .toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.keepBest(docs, col("id"), col("q"), pairs, col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // {1,2,3}: max q 30 tied between 2 and 3 -> lowest id 2; comp = min id 1
    // {4}: singleton always kept; {5,6}: 6 wins on quality
    assert(kept == Set((2L, 1L, 30L, 3L), (4L, 4L, 5L, 1L), (6L, 5L, 60L, 2L)))
    CacheTracker.releaseAll()
    // no pairs at all: every doc is its own kept singleton
    val solo = Dedup.keepBest(docs, col("id"), col("q"),
      pairs.limit(0), col("a"), col("b"))
    assert(solo.count() == 6 && solo.filter(col("n_members") =!= 1).count() == 0)
    CacheTracker.releaseAll()
  }

  test("mixing: stratifiedSample == per-row integer model; partition-invariant") {
    val rows = (0L until 400L).map(i => (i, s"k${i % 4}")).toDF("id", "key")
    val weights = Map("k0" -> 3.0, "k1" -> 1.6, "k2" -> 0.3) // k3 dropped
    def run(parts: Int) =
      Mixing.stratifiedSample(rows.repartition(parts), col("key"), col("id"), weights)
        .select("id", "key", "copy").as[(Long, String, Long)].collect().toSet
    val a = run(2); val b = run(13)
    assert(a == b, "sample must not depend on partitioning")
    // per-row model: floor(w) copies + 1 iff (mix64(id) >>> 1) < frac·2⁶³
    val expected = (0L until 400L).flatMap { i =>
      val k = s"k${i % 4}"
      weights.get(k).toSeq.flatMap { w =>
        val extra = if ((Kernels.mix64(i) >>> 1) < Mixing.fracThreshold(w)) 1 else 0
        (0 until (math.floor(w).toInt + extra)).map(c => (i, k, c.toLong))
      }
    }.toSet
    assert(a == expected)
    // whole weights are exact; fractional rates land near w·n
    assert(a.count(_._2 == "k0") == 300) // 100 ids × exactly 3 copies
    val k2 = a.count(_._2 == "k2")
    assert(k2 > 10 && k2 < 50, s"k2 rate $k2 far from 0.3 × 100")
    assert(!a.exists(_._2 == "k3"))
  }

  test("mixing: budgetCap keeps the deterministic uniform-order prefix per key") {
    val rows = (0L until 300L).map(i => (i, s"k${i % 3}", 10L + (i % 7)))
      .toDF("id", "key", "cost")
    val budgets = Map("k0" -> 200L, "k1" -> 1000000L) // k2 dropped
    def run(parts: Int) =
      Mixing.budgetCap(rows.repartition(parts), col("key"), col("id"), col("cost"), budgets)
        .select("id", "key").as[(Long, String)].collect().toSet
    val a = run(2); val b = run(11)
    assert(a == b, "cap must not depend on partitioning")
    // model: per key, order ids by (mix64 >>> 1, id), keep while cumsum <= budget
    val expected = (0 until 3).flatMap { k =>
      val key = s"k$k"
      budgets.get(key).toSeq.flatMap { budget =>
        val ordered = (0L until 300L).filter(_ % 3 == k)
          .sortBy(i => (Kernels.mix64(i) >>> 1, i))
        var run = 0L
        ordered.takeWhile { i => run += 10L + (i % 7); run <= budget }
          .map(i => (i, key))
      }
    }.toSet
    assert(a == expected)
    assert(a.count(_._2 == "k0") < 100 && a.count(_._2 == "k1") == 100)
    assert(!a.exists(_._2 == "k2"))
  }

  test("mixing: negative cost fails loudly (budgetCap and packBins)") {
    val rows = Seq((1L, "k", 10L), (2L, "k", -5L)).toDF("id", "key", "cost")
    val e1 = intercept[Exception] {
      Mixing.budgetCap(rows, col("key"), col("id"), col("cost"), Map("k" -> 100L)).collect()
    }
    assert(e1.getMessage.contains("cost must be >= 0"))
    val e2 = intercept[Exception] {
      Mixing.packBins(rows, col("key"), col("id"), col("cost"), 100L).collect()
    }
    assert(e2.getMessage.contains("cost must be >= 0"))
  }

  test("mixing: packBins == per-key start-offset model; bins contiguous") {
    val rows = (0L until 240L).map(i => (i, s"k${i % 2}", 10L + (i % 13)))
      .toDF("id", "key", "cost")
    val binSize = 100L
    def run(parts: Int) =
      Mixing.packBins(rows.repartition(parts), col("key"), col("id"), col("cost"), binSize)
        .select("id", "key", "bin").as[(Long, String, Long)].collect().toSet
    val a = run(2); val b = run(9)
    assert(a == b, "packing must not depend on partitioning")
    val expected = (0 until 2).flatMap { k =>
      val key = s"k$k"
      val ordered = (0L until 240L).filter(_ % 2 == k)
        .sortBy(i => (Kernels.mix64(i) >>> 1, i))
      var run0 = 0L
      ordered.map { i =>
        val start = run0; run0 += 10L + (i % 13)
        (i, key, start / binSize)
      }
    }.toSet
    assert(a == expected)
    // bins are contiguous 0..max per key
    (0 until 2).foreach { k =>
      val bins = a.filter(_._2 == s"k$k").map(_._3)
      assert(bins == (0L to bins.max).toSet, s"holes in k$k bins")
    }
  }

  test("mixing: shardKey splits a giant key into nShards parallel windows; capacity preserved") {
    val nShards = 4
    val binSize = 100L
    // one dominant key: unsharded, its packing window is a single task
    val rows = (0L until 1000L).map(i => (i, "giant", 10L + (i % 13)))
      .toDF("id", "key", "cost")
    val sharded = Mixing.packBins(rows, Mixing.shardKey(col("key"), col("id"), nShards),
      col("id"), col("cost"), binSize)
    val got = sharded.select(Mixing.shardKey(col("key"), col("id"), nShards).as("sk"),
        col("id"), col("bin"))
      .as[(String, Long, Long)].collect()
    // every row present exactly once; shard is a pure function of id
    assert(got.length == 1000 && got.map(_._2).toSet == (0L until 1000L).toSet)
    // window parallelism: exactly nShards composite keys
    assert(got.map(_._1).toSet.size == nShards)
    // model replay per shard: same start-offset rule within each shard
    val expected = (0 until nShards).flatMap { s =>
      val ordered = (0L until 1000L)
        .filter(i => ((Kernels.mix64(i) % nShards) + nShards) % nShards == s)
        .sortBy(i => (Kernels.mix64(i) >>> 1, i))
      var run0 = 0L
      ordered.map { i =>
        val start = run0; run0 += 10L + (i % 13)
        (s"giant#$s", i, start / binSize)
      }
    }.toSet
    assert(got.toSet == expected)
    // equivalent capacity: per (shard, bin) the start-offset rule bounds the
    // bin total by binSize + its overflow row's cost; total bin count wastes
    // at most one partial bin per shard vs the unsharded packing
    val unsharded = Mixing.packBins(rows, col("key"), col("id"), col("cost"), binSize)
      .select("bin").as[Long].collect()
    val binsU = unsharded.max + 1
    val binsS = got.groupBy(_._1).map { case (_, rs) => rs.map(_._3).max + 1 }.sum
    assert(binsS <= binsU + nShards,
      s"sharded packing wastes too much capacity: $binsS bins vs $binsU + $nShards")
    // start-offset rule: a bin's total is < binSize + its last row's cost
    got.groupBy(r => (r._1, r._3)).foreach { case ((sk, bin), rs) =>
      val costs = rs.map { case (_, i, _) => 10L + (i % 13) }
      assert(costs.sum < binSize + costs.max,
        s"bin ($sk, $bin) violates the overflow rule: ${costs.sum}")
    }
  }

  test("mixing: budgetCap over shardKey + shardBudgets caps within nShards rounding of the plain cap") {
    val nShards = 4
    val rows = (0L until 1000L).map(i => (i, "giant", 10L + (i % 7)))
      .toDF("id", "key", "cost")
    val budgets = Map("giant" -> 3000L)
    val plain = Mixing.budgetCap(rows, col("key"), col("id"), col("cost"), budgets)
      .agg(sum("cost")).as[Long].collect().head
    val shardedSpend = Mixing.budgetCap(rows,
        Mixing.shardKey(col("key"), col("id"), nShards), col("id"), col("cost"),
        Mixing.shardBudgets(budgets, nShards))
      .agg(sum("cost")).as[Long].collect().head
    // per-shard floors + uniform shard fill keep total spend near the cap
    assert(shardedSpend <= budgets("giant"))
    assert(shardedSpend >= plain - nShards * 20L,
      s"sharded spend $shardedSpend too far below plain $plain")
  }

  test("mixing: shardBudgets preserves every budget exactly; budgets below nShards survive") {
    val nShards = 8
    val budgets = Map("tiny" -> 3L, "big" -> 1001L, "zero" -> 0L)
    val m = Mixing.shardBudgets(budgets, nShards)
    // exact-sum invariant per key (the old floor lost up to nShards-1 units
    // and zeroed any budget < nShards — silently dropping the whole key)
    budgets.foreach { case (k, b) =>
      assert((0 until nShards).map(i => m(s"$k#$i")).sum == b, s"key $k")
    }
    assert((0 until 3).forall(i => m(s"tiny#$i") == 1L) &&
      (3 until nShards).forall(i => m(s"tiny#$i") == 0L))
    // end-to-end: a small budget over sharded keys spends EXACTLY its cap
    // (unit costs), instead of dropping every row
    val rows = (0L until 100L).map(i => (i, "tiny", 1L)).toDF("id", "key", "cost")
    val spent = Mixing.budgetCap(rows,
        Mixing.shardKey(col("key"), col("id"), nShards), col("id"), col("cost"),
        Mixing.shardBudgets(Map("tiny" -> 3L), nShards))
      .agg(sum("cost")).as[Long].collect().head
    assert(spent == 3L, s"small sharded budget spent $spent, want 3")
  }

  test("mixing: globalOrder == exact rank model; invariant to partitioning, shardBits; epoch reshuffles") {
    val n = 3000L
    val rows = spark.range(n).toDF("id")
    def run(parts: Int, shardBits: Int, epoch: Long = 0L) =
      Mixing.globalOrder(rows.repartition(parts), col("id"), shardBits, epoch)
        .select("id", "ord").as[(Long, Long)].collect().toMap
    val a = run(2, 6)
    // exact model: rank in (mix64 >>> 1, id) order
    val expected = (0L until n).sortBy(i => (Kernels.mix64(i) >>> 1, i))
      .zipWithIndex.map { case (i, r) => i -> r.toLong }.toMap
    assert(a == expected)
    // partition- and shardBits-invariant (ord is a pure function of the set)
    assert(run(13, 6) == a)
    assert(run(2, 2) == a)
    assert(run(2, 0) == a)
    // epoch reshuffle: same ranks 0..n-1, different assignment, exact model
    val e = run(5, 6, epoch = 7L)
    assert(e.values.toSet == (0L until n).toSet && e != a)
    val expectedE = (0L until n).sortBy(i => (Kernels.mix64(Kernels.mix64(i) ^ 7L) >>> 1, i))
      .zipWithIndex.map { case (i, r) => i -> r.toLong }.toMap
    assert(e == expectedE)
    // empty input
    assert(Mixing.globalOrder(rows.filter(col("id") < 0), col("id")).count() == 0)
  }

  test("mixing: holdoutSplit partitions exactly and deterministically") {
    val rows = spark.range(2000).toDF("id")
    val (train, test1) = Mixing.holdoutSplit(rows, col("id"), 0.1)
    val tr = train.select("id").as[Long].collect().toSet
    val te = test1.select("id").as[Long].collect().toSet
    assert((tr & te).isEmpty && tr.size + te.size == 2000)
    assert(te.size > 120 && te.size < 280, s"holdout ${te.size} far from 10%")
    // stable across recomputation
    val te2 = Mixing.holdoutSplit(rows.repartition(7), col("id"), 0.1)
      ._2.select("id").as[Long].collect().toSet
    assert(te == te2)
  }

  test("kmeans assignment is bit-identical across partitionings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(parts: Int) = {
      val r = Ann.kmeansAssign(emb.repartition(parts), col("vec_id"), col("embedding"))
        .select("id", "cluster", "dist").as[(Long, Long, Long)].collect().toSet
      CacheTracker.releaseAll()
      r
    }
    val a = run(3); val b = run(17)
    assert(a == b, "integer k-means must not depend on the partitioning")
    val byCluster = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byCluster.size >= 5, s"degenerate clustering: $byCluster")
    assert(byCluster.values.sum == 500)
  }

  test("persisted IVF index: query == fresh ivfKmeansTopK; manifest skips unprobed clusters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val table = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Ann.buildIvfIndex(emb, col("vec_id"), col("embedding"), table)
    CacheTracker.releaseAll()
    // bit-identical to the train-at-query-time path (training deterministic)
    val fresh = Ann.ivfKmeansTopK(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    CacheTracker.releaseAll()
    val (res, selected, total) = Ann.queryIvfIndex(spark, table,
      queries, col("vec_id"), col("embedding"), k = 10)
    val got = res.as[(Long, Long, Long, Long)].collect().toSet
    assert(got == fresh, "index query must equal the fresh-trained path")
    assert(got.nonEmpty)
    // disk-level pruning: a single query probing 2 of 8 clusters must not
    // open every file
    val one = emb.filter(col("vec_id") === 7)
    val (r1, sel1, tot1) = Ann.queryIvfIndex(spark, table,
      one, col("vec_id"), col("embedding"), k = 5, probes = 2)
    assert(r1.count() == 5)
    assert(sel1 < tot1, s"no files skipped ($sel1 of $tot1)")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
  }

  test("appendToIvfIndex: frozen-codebook append == from-scratch build on the union") {
    // the equality contract holds exactly when both builds train the SAME
    // codebook: iters=0 makes centroids = the k lowest unsigned-mix64-id
    // rows, so keeping those seed rows in the BASE corpus freezes the
    // codebook — append(new)+query is then bit-identical to building on the
    // union. (With drift the codebook differs and only recall degrades —
    // that's the documented rebuild trigger, watched via IvfAppendStats.)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val ids = emb.select("vec_id").as[Long].collect()
    // the 50 ids LAST in unsigned-mix64 order can never be iters=0 seeds
    val appendIds = ids.sortBy(i => Kernels.mix64(i) ^ Long.MinValue).takeRight(50).toSet
    val base = emb.filter(!col("vec_id").isInCollection(appendIds))
    val add = emb.filter(col("vec_id").isInCollection(appendIds))
    val queries = emb.filter(col("vec_id") < 5)
    def results(table: String) = {
      val (res, _, _) = Ann.queryIvfIndex(spark, table,
        queries, col("vec_id"), col("embedding"), k = 10)
      res.as[(Long, Long, Long, Long)].collect().toSet
    }
    val tApp = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), tApp, iters = 0)
    CacheTracker.releaseAll()
    val stats = Ann.appendToIvfIndex(add, col("vec_id"), col("embedding"), tApp, "a1")
    assert(stats.committed && stats.rows == 50 && stats.meanDist >= 0.0 &&
      stats.maxDist >= 0L)
    // exactly-once resume: same batchId is a no-op, not a duplicate
    val again = Ann.appendToIvfIndex(add, col("vec_id"), col("embedding"), tApp, "a1")
    assert(!again.committed)
    val tFull = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    Ann.buildIvfIndex(emb, col("vec_id"), col("embedding"), tFull, iters = 0)
    CacheTracker.releaseAll()
    val a = results(tApp); val b = results(tFull)
    assert(a == b && a.nonEmpty,
      "append under a frozen codebook must equal the union build")
    // manifest pruning still spans BOTH batches of the appended table
    val one = emb.filter(col("vec_id") === 7)
    val (r1, sel1, tot1) = Ann.queryIvfIndex(spark, tApp,
      one, col("vec_id"), col("embedding"), k = 5, probes = 2)
    assert(r1.count() == 5)
    assert(sel1 < tot1, s"no files skipped across appended batches ($sel1 of $tot1)")
    Seq(tApp, tFull).foreach(t =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t)))
  }

  test("ivf kmeans ANN: recall vs brute at probes=3 of 8 buckets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Ann.bruteTopK(emb, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"), 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfKmeansTopK(emb, col("vec_id"), col("embedding"), q, col("vec_id"), col("embedding"), 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    CacheTracker.releaseAll()
    val recall = (brute & ivf).size.toDouble / brute.size
    println(s"PROBE kmeans-ivf recall=$recall (${(brute & ivf).size}/${brute.size})")
    assert(recall >= 0.4, s"recall $recall")
    assert(ivf.forall { case (qid, id) => qid != id })
  }
}

class ImageTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("columnar metaDf == typed metaFor rows") {
    val a = ImageTable.metaDf(spark, 0, 500).orderBy("id")
      .select("image_id", "phash", "w", "h", "fmt").collect()
    val b = (0L until 500L).map(ImageTable.metaFor)
    a.zip(b).foreach { case (r, m) =>
      assert(r.getString(0) == m.image_id && r.getLong(1) == m.phash &&
        r.getInt(2) == m.w && r.getInt(3) == m.h && r.getString(4) == m.fmt)
    }
  }

  test("synthesis deterministic across partitionings") {
    val a = ImageTable.synthesize(spark, 200, parts = 2).collect().sortBy(_.image_id)
    val b = ImageTable.synthesize(spark, 200, parts = 7).collect().sortBy(_.image_id)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.image_id == y.image_id && x.phash == y.phash && x.caption == y.caption)
      assert(java.util.Arrays.equals(x.bytes, y.bytes))
    }
  }

  test("image invariant: decoded pixels PSNR >= 40dB vs source pattern; png exact") {
    val rows = ImageTable.synthesize(spark, 100).collect()
    rows.foreach { r =>
      val ref = ImageTable.encode(ImageTable.renderPattern(r.image_id.drop(3).toLong, r.w, r.h), "png")
      val p = ImageTable.psnr(r.bytes, ref)
      if (r.fmt == "png") assert(p == 99.0, s"${r.image_id} png not exact ($p)")
      else assert(p >= 40.0, s"${r.image_id} jpeg psnr $p < 40")
    }
  }

  test("caption equality + phash-derived hotspot skew present") {
    val df = ImageTable.synthesize(spark, 5000).toDF()
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
      .withColumn("cell", st.cellId(col("lon"), col("lat"), 7))
    val counts = df.groupBy("cell").count().orderBy(col("count").desc).limit(3)
      .select("count").as[Long].collect()
    // 30% of 5000 rows in 3 hotspot cells
    assert(counts.sum >= 1400, s"hotspot cells only ${counts.sum}")
    // caption determinism
    val c1 = ImageTable.rowFor(42).caption
    assert(df.filter(col("image_id") === "img000000042").select("caption").head().getString(0) == c1)
  }

  test("ReusableDecoder: mixed color models share dims without cross-typing (ADVICE r04)") {
    // an RGB JPEG then a GRAYSCALE JPEG of the SAME dimensions: the pool key
    // must include the advertised image type — a (format,w,h)-only key hands
    // the grayscale read the pooled RGB destination and the reader throws on
    // the band mismatch (or silently converts, breaking bit-parity)
    import java.awt.image.BufferedImage
    def img(tp: Int): BufferedImage = {
      val im = new BufferedImage(32, 24, tp)
      var y = 0
      while (y < 24) {
        var x = 0
        while (x < 32) {
          val v = (x * 7 + y * 13) & 0xFF
          im.setRGB(x, y, (v << 16) | ((255 - v) << 8) | v)
          x += 1
        }
        y += 1
      }
      im
    }
    val variants = Seq(
      ImageTable.encode(img(BufferedImage.TYPE_INT_RGB), "jpeg"),
      ImageTable.encode(img(BufferedImage.TYPE_BYTE_GRAY), "jpeg"),
      ImageTable.encode(img(BufferedImage.TYPE_INT_RGB), "png"),
      ImageTable.encode(img(BufferedImage.TYPE_BYTE_GRAY), "png"))
    val d = new ImageTable.ReusableDecoder
    // two alternating rounds: round 2 hits the pooled destinations
    (0 until 2).foreach { round =>
      variants.foreach { bytes =>
        val pooled = d.decode(bytes) // valid only until the next decode —
        val ref = ImageTable.decode(bytes) // consume against ref NOW
        assert(pooled.getWidth == ref.getWidth && pooled.getHeight == ref.getHeight)
        var y = 0
        while (y < ref.getHeight) {
          var x = 0
          while (x < ref.getWidth) {
            assert(pooled.getRGB(x, y) == ref.getRGB(x, y),
              s"round $round pixel ($x,$y) differs from the unpooled path")
            x += 1
          }
          y += 1
        }
      }
    }
  }

  test("resize + frame-sample stubs keep plumbing real") {
    val r = ImageTable.rowFor(1)
    val resized = ImageTable.resize(r.bytes, "png", 4, 4)
    assert(ImageTable.decode(resized).getWidth == 4)
    val frames = ImageTable.sampleFramesStub(r.bytes, 2, 5)
    assert(frames.nonEmpty && frames.forall(f => ImageTable.decode(f).getWidth == 8))
  }
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("token counts and quality features") {
    val df = Seq(
      ("The quick brown fox, it jumps over the lazy dog!", "en"),
      ("12345 67890", "num"),
      ("", "empty")).toDF("text", "tag")
      .select(col("tag"),
        TextOps.tokenCountWs(col("text")).as("ws"),
        TextOps.tokenCountBpe(col("text")).as("bpe"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.langIdHeuristic(col("text")).as("lang"))
    val en = df.filter(col("tag") === "en").head()
    assert(en.getInt(1) == 10) // ws tokens
    assert(en.getInt(2) == 12) // bpe: comma and bang split
    assert(en.getString(4) == "en")
    val empty = df.filter(col("tag") === "empty").head()
    assert(empty.getInt(1) == 0)
  }

  test("tfIdfTopTerms: hand-computed integer scores; ties rank by token") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "banana"),
      (4L, "dog cat")).toDF("id", "text")
    // nDocs = 4, idfScale = 100: idf = 400 // df.
    // df: apple 1, banana 3, cherry 1, dog 1, cat 1 -> idf 400/133/400/400/400
    val out = TextOps.tfIdfTopTerms(docs, col("id"), col("text"), 2, idfScale = 100L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == Set(
      (1L, "apple", 2L, 1L, 800L, 1L), (1L, "banana", 1L, 3L, 133L, 2L),
      (2L, "cherry", 1L, 1L, 400L, 1L), (2L, "banana", 1L, 3L, 133L, 2L),
      (3L, "banana", 1L, 3L, 133L, 1L),
      (4L, "cat", 1L, 1L, 400L, 1L), (4L, "dog", 1L, 1L, 400L, 2L)))
  }

  test("fingerprint: deterministic, prefix-sensitive") {
    val df = Seq("hello world", "hello worlds", "hello world").toDF("t")
      .select(TextOps.fingerprint(col("t")).as("fp")).as[Long].collect()
    assert(df(0) == df(2) && df(0) != df(1))
    assert(df(0) == Kernels.fp64("hello world", 256))
  }
}
