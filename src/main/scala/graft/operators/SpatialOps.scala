package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.st
import graft.plans.{PipJoin, PipJoinStrategy}

/** Distributed spatial operators, built Spark-first (SURVEY.md §2.3 J5–J7,
  * §2.6 O4): declarative plans over the cell index; Catalyst/AQE pick
  * physical strategies; explicit broadcast + salting where the optimizer
  * can't know better.
  *
  * Scale design notes (100 TB target):
  *  - PIP join is never a theta/cross join: one [[graft.plans.PipJoin]]
  *    node, built by [[pipJoin]] and the SQL rule, broadcasts the polygons
  *    once; each point looks up its one cell in a prepared
  *    [[graft.core.PipIndex]] and ray-casts only the polygons listed there.
  *    Polygon sets too large to broadcast fail at Spark's broadcast limits.
  *  - kNN is ring expansion: a handful of bounded distributed passes, each an
  *    equi-join on cell; stragglers (sparse regions) escalate ring radius
  *    geometrically. No per-row driver loops.
  */
object SpatialOps {

  /** lon column derived from a phash column (high 32 bits). */
  def phashLon(phash: Column): Column =
    shiftrightunsigned(phash, 32).cast("double") / 4294967296.0 * 360.0 - 180.0

  /** lat column derived from a phash column (low 32 bits). */
  def phashLat(phash: Column): Column =
    (phash.bitwiseAND(lit(0xFFFFFFFFL))).cast("double") / 4294967296.0 * 170.0 - 85.0

  /** Point-in-polygon join: each point row joined to every polygon containing
    * it (`st.contains` semantics). `polys` must have (`idCols`..., `geomCol`:
    * WKB). Returns point rows + all `polys` columns but `geomCol`.
    *
    * Builds the [[graft.plans.PipJoin]] node that the SQL rule also builds,
    * and runs no job. `polys` is broadcast once, and each task prepares a
    * [[graft.core.PipIndex]] at `res` from it (covers stay at `res`, so
    * large polygons are exact; one cover above
    * [[graft.core.CellIndex.MaxCoverCells]] fails the query). `points` may
    * stream; `polys` must be a batch frame. Polygon sets too large to
    * broadcast fail loudly at Spark's broadcast limits
    * (`spark.driver.maxResultSize`, the broadcast table's size and row caps).
    */
  def pipJoin(
      points: DataFrame, lon: Column, lat: Column,
      polys: DataFrame, geomCol: String,
      res: Int): DataFrame = {
    val spark = points.sparkSession
    PipJoinStrategy.setup(spark)
    val xy = Bridge.plan(points.select(lon.cast("double"), lat.cast("double")))
      .asInstanceOf[Project].projectList.map { case Alias(e, _) => e; case e => e }
    // analysis gives a self-join's polygon side fresh attribute ids
    val geom = Bridge.plan(polys).output(polys.schema.fieldIndex(geomCol))
    Bridge.frame(spark, PipJoin(Bridge.plan(points), Bridge.plan(polys), xy(0), xy(1), geom, res, emitGeom = false))
  }

  /** Cell equi-join with explicit salting for hot cells (explicit skew
    * handling mandated by BASELINE.json; AQE skew-join also stays on).
    *
    * The probe (big) side salts each row deterministically from
    * `saltSource` (content hash — NOT partition-dependent ids); the build
    * side is replicated `saltFactor` ways for the `hotCells` subset only.
    */
  def saltedCellJoin(
      big: DataFrame, bigCell: Column, saltSource: Column,
      build: DataFrame, buildCell: Column,
      hotCells: Seq[Long], saltFactor: Int): DataFrame = {
    val hot = hotCells.toSet
    val isHotBig = bigCell.isInCollection(hot)
    val bigSalted = big
      .withColumn("__salt", when(isHotBig, pmod(st.mix64(saltSource), lit(saltFactor))).otherwise(lit(0)))
      .withColumn("__cell", bigCell)
    val isHotBuild = buildCell.isInCollection(hot)
    val buildSalted = build
      .withColumn("__cell", buildCell)
      .withColumn("__salt",
        explode(when(isHotBuild, sequence(lit(0), lit(saltFactor - 1))).otherwise(array(lit(0)))))
    bigSalted.join(buildSalted, Seq("__cell", "__salt")).drop("__salt")
  }

  /** Data-derived hot-cell set for explicit salting: cells whose row count
    * exceeds `factor` × the mean populated-cell count, capped at the `topN`
    * heaviest. The threshold is RELATIVE (an absolute row threshold
    * degenerates to "every populated cell is hot" as data grows — the salt
    * set must stay a handful of genuinely skewed cells), and topN bounds
    * both the driver-side collect and the IN-set in the salted plan; a salt
    * set is only useful for the few cells that dominate task time anyway.
    * Reports the salt-set size as an `obs` decision. */
  def hotCells(points: DataFrame, cell: Column,
      factor: Double = 8.0, topN: Int = 64): Array[Long] = {
    val counts = points.groupBy(cell.as("__cell")).count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = try {
      val avgRow = counts.agg(avg(col("count"))).head()
      if (avgRow.isNullAt(0)) Array.emptyLongArray
      else counts.filter(col("count") > lit(avgRow.getDouble(0) * factor))
        .orderBy(col("count").desc, col("__cell"))
        .limit(topN)
        .select("__cell").collect().map(_.getLong(0)).sorted
    } finally { counts.unpersist(false); () }
    graft.obs.decision("hotCells", "saltSet" -> hot.length)
    hot
  }

  /** k nearest `points` for each row of `queries` by planar squared distance
    * (exact arithmetic → deterministic ordering; ties broken by `pointId`).
    *
    * Incremental ring expansion: pass i joins still-unsatisfied queries
    * against ONLY the new Chebyshev shell (prevRadius, radius] of cells
    * (wrap-exact via st_cellshell, so no candidate is ever seen twice) and
    * folds the new candidates into a persisted running top-k accumulator —
    * the points relation is never re-scanned for the inner disk. A query is
    * done when its kth distance is provably ≤ any point outside the searched
    * disk (distance ≥ radius · cellHeight). Queries still unsatisfied after
    * `maxRing` fall back to a brute-force join — correctness never depends
    * on the cutoff.
    *
    * Driver actions per pass: exactly one bounded job over the cached
    * accumulator. The pending set shrinks MONOTONICALLY (each pass anti-joins
    * only its newly-proven-satisfied ids — a query never re-enters pending
    * even if a latitude-dependent guarantee is non-monotone in radius) and is
    * persisted per pass, collapsing to a collected IN-set filter once it
    * falls below `collectThreshold`. Each superseded accumulator/pending is
    * unpersisted as soon as its successor is materialized; the final ones
    * are released by the caller via [[CacheTracker.releaseAll]]. The last
    * ring searched, the pending count after each pass and whether the
    * brute-force fallback ran are reported as an `obs` decision.
    */
  def knnJoin(
      spark: SparkSession,
      queries: DataFrame, qId: Column, qLon: Column, qLat: Column,
      points: DataFrame, pId: Column, pLon: Column, pLat: Column,
      k: Int, res: Int, maxRing: Int = 64, collectThreshold: Long = 100000L): DataFrame = {
    val cellH = 180.0 / (1L << res).toDouble
    knnCore(queries, qId, qLon, qLat, points, pId, pLon, pLat, k, res, maxRing,
      collectThreshold,
      dist = st.sqDist(_, _, _, _),
      // squared planar degrees: any point outside disk(r) is ≥ r·cellH away
      guarantee = (radius, _) => {
        val g = radius.toDouble * cellH
        lit(g * g)
      })
  }

  /** [[knnJoin]] with TRUE METERS semantics: distance is great-circle
    * haversine and the ring-sufficiency guarantee is latitude-aware. The
    * planar guarantee (r·cellHeight degrees) is wrong in meters at high
    * latitude: longitude cells shrink by cos(lat), so a point r cells east
    * can be far fewer meters away than r cells north. The meters guarantee
    * for a query at latitude φ is
    *
    *   min( R · r·cellH(rad),                                — y escape
    *        2R · asin( cos(φ*) · sin(min(π, r·cellW(rad))/2) ) )  — x escape
    *
    * with φ* = min(90°, |φ| + (r+1)·cellH): any point outside the disk in x
    * but not in y lies within that latitude band, and haversine(p,q) ≥ both
    * bounds (sin²(Δφ/2) term dropped; cosφ₁cosφ₂ ≥ cos²φ*). Once the
    * wrapped x-range covers the full ring (2r ≥ 2^res) only the y bound
    * applies. */
  def knnJoinHaversine(
      spark: SparkSession,
      queries: DataFrame, qId: Column, qLon: Column, qLat: Column,
      points: DataFrame, pId: Column, pLon: Column, pLat: Column,
      k: Int, res: Int, maxRing: Int = 64, collectThreshold: Long = 100000L): DataFrame = {
    val n = 1L << res
    val cellHdeg = 180.0 / n.toDouble
    val cellWdeg = 360.0 / n.toDouble
    val R = 6371008.8 // mean earth radius — same constant as GeomOps.haversine
    knnCore(queries, qId, qLon, qLat, points, pId, pLon, pLat, k, res, maxRing,
      collectThreshold,
      dist = st.haversine(_, _, _, _),
      guarantee = (radius, qLatCol) => {
        val yBound = lit(R * Math.toRadians(radius * cellHdeg))
        if (2L * radius >= n) yBound
        else {
          val phiStar = least(lit(90.0), abs(qLatCol) + lit((radius + 1) * cellHdeg))
          val halfLon = Math.min(Math.PI, Math.toRadians(radius * cellWdeg)) / 2.0
          val xBound = lit(2.0 * R) *
            asin(greatest(cos(radians(phiStar)), lit(0.0)) * lit(Math.sin(halfLon)))
          least(yBound, xBound)
        }
      })
  }

  /** Shared incremental ring-expansion loop — see [[knnJoin]] for the
    * driver-action and persistence discipline. `guarantee(radius, q_lat)`
    * must lower-bound `dist` to ANY point outside Chebyshev disk(radius). */
  private def knnCore(
      queries: DataFrame, qId: Column, qLon: Column, qLat: Column,
      points: DataFrame, pId: Column, pLon: Column, pLat: Column,
      k: Int, res: Int, maxRing: Int, collectThreshold: Long,
      dist: (Column, Column, Column, Column) => Column,
      guarantee: (Int, Column) => Column): DataFrame = {

    val q0 = queries.select(qId.as("q_id"), qLon.as("q_lon"), qLat.as("q_lat"))
      .withColumn("q_cell", st.cellId(col("q_lon"), col("q_lat"), res))
    val pts = points.select(pId.as("p_id"), pLon.as("p_lon"), pLat.as("p_lat"))
      .withColumn("p_cell", st.cellId(col("p_lon"), col("p_lat"), res))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("p_id"))
    val accCols = Seq("q_id", "q_lon", "q_lat", "q_cell", "p_id", "dist")

    // no upfront q0.count(): the first pass's one driver action measures the
    // pending population as a side effect. Satisfaction is tracked
    // MONOTONICALLY — pending only ever shrinks by anti-joining the ids the
    // CURRENT pass proves satisfied, so a non-monotone guarantee (the
    // haversine x-bound collapses as phi* clamps to 90°) can never re-admit
    // a query that was already proven done at a smaller radius.
    var pendingCount = Long.MaxValue // unknown until the first pass measures it
    var pending = q0
    var pendingPersisted: Option[DataFrame] = None // bounded-lineage pending
    var acc: Option[DataFrame] = None   // running top-k (persisted)
    var prevRadius = 0
    var radius = 1
    var iter = 0
    val pendingPerPass = Vector.newBuilder[Long]
    while (pendingCount > 0 && iter < 12 && radius <= maxRing) {
      val shellCells =
        if (prevRadius == 0) st.cellDisk(col("q_cell"), lit(radius))
        else st.cellShell(col("q_cell"), lit(prevRadius + 1), lit(radius))
      val newCands = pending.withColumn("cand_cell", explode(shellCells))
        .join(pts, col("cand_cell") === col("p_cell"))
        .withColumn("dist", dist(col("q_lon"), col("q_lat"), col("p_lon"), col("p_lat")))
        .select(accCols.map(col): _*)
      val merged = acc.map(_.select(accCols.map(col): _*).unionAll(newCands)).getOrElse(newCands)
      val topk = merged
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // satisfied THIS pass: k results, kth inside the guaranteed disk
      val okIds = topk.groupBy("q_id")
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"), first(col("q_lat")).as("q_lat"))
        .filter(col("n") === k && col("kth") <= guarantee(radius, col("q_lat")))
        .select("q_id")
      val newPending = pending.join(okIds, Seq("q_id"), "left_anti")
      // one driver action per pass: once the pending tail is provably below
      // the threshold, collect it into an InSet filter rooted at q0 (no
      // join in later plans); until then persist + count it, so the
      // anti-join lineage stays one level deep instead of accumulating a
      // recompute chain across passes
      val supersededPending = pendingPersisted
      if (pendingCount <= collectThreshold) {
        val ids = newPending.select("q_id").collect().map(_.get(0)).toSeq
        pending = if (ids.isEmpty) q0.limit(0) else q0.filter(col("q_id").isInCollection(ids))
        pendingPersisted = None
        pendingCount = ids.length.toLong
      } else {
        val p = newPending.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pendingCount = p.count()
        pending = p
        pendingPersisted = Some(p)
      }
      pendingPerPass += pendingCount
      supersededPending.foreach(_.unpersist(false))
      acc.foreach(_.unpersist(false)) // superseded; topk is fully materialized
      acc = Some(topk)
      prevRadius = radius
      radius *= 2
      iter += 1
    }
    acc.foreach(CacheTracker.register)
    pendingPersisted.foreach(CacheTracker.register) // released with the result
    graft.obs.decision("knnJoin", "rings" -> prevRadius, "pending" -> pendingPerPass.result(),
      "brute" -> (pendingCount > 0))
    val found = acc.map(_.select("q_id", "p_id", "dist", "rn"))
    // brute-force fallback for queries the ring search couldn't guarantee
    // (e.g. fewer than k points in the world) — empty in practice
    val rest =
      if (pendingCount == 0) None
      else Some(pending.crossJoin(pts)
        .withColumn("dist", dist(col("q_lon"), col("q_lat"), col("p_lon"), col("p_lat")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select("q_id", "p_id", "dist", "rn"))
    (found, rest) match {
      case (Some(a), Some(r)) =>
        // a still holds rows for unguaranteed queries (partial top-k inside
        // the searched disk) — the brute rows replace them
        a.join(pending.select("q_id"), Seq("q_id"), "left_anti").unionAll(r)
      case (Some(a), None) => a
      case (None, Some(r)) => r
      case (None, None)    => queries.sparkSession.emptyDataFrame
    }
  }

  /** All point pairs within planar distance `radiusDeg` (id_a < id_b) —
    * the spatial co-location / dedup-by-location self-join. Cell
    * prefilter: side A explodes to the Chebyshev cell disk covering the
    * radius (k = ⌈radius / cellHeight⌉ rings; cell height 180/2^res is the
    * smaller cell axis, so the disk covers both axes); side B carries its
    * single cell, so the equi-join meets each unordered pair exactly twice
    * (disk membership is symmetric) and the id_a < id_b filter keeps one —
    * no post-join dedup. Exact residual: integer-quantized planar squared
    * distance (round(coord·scale) — the cross-engine-exact quantization),
    * so membership at the radius boundary is bit-deterministic.
    *
    * Pick `res` so cells are about the radius (k stays 1–2): too coarse
    * and hot cells carry whole point clusters into one join group; too
    * fine and the disk explode fans out. `radiusDeg · scale` must be
    * integral — the radius itself must be representable in the quantized
    * grid or boundary semantics would silently depend on float rounding.
    */
  def radiusPairs(df: DataFrame, id: Column, lon: Column, lat: Column,
      radiusDeg: Double, res: Int, scale: Int = 1000): DataFrame =
    radiusCore(df, id, lon, lat, df, id, lon, lat, radiusDeg, res, scale,
      selfPairs = true)

  /** Two-frame radius join ("left points near right points"): every
    * (id_a from `left`, id_b from `right`) pair within planar `radiusDeg`,
    * each exactly once — same cell-disk prefilter + exact integer residual
    * as [[radiusPairs]], with the disk exploded on the LEFT side only
    * (make `left` the smaller/query side when sizes differ: the disk
    * fan-out multiplies that side by (2k+1)²). */
  def radiusJoin(
      left: DataFrame, lId: Column, lLon: Column, lLat: Column,
      right: DataFrame, rId: Column, rLon: Column, rLat: Column,
      radiusDeg: Double, res: Int, scale: Int = 1000): DataFrame =
    radiusCore(left, lId, lLon, lLat, right, rId, rLon, rLat, radiusDeg, res,
      scale, selfPairs = false)

  /** [[radiusPairs]] with TRUE METERS semantics: every unordered pair within
    * great-circle haversine `radiusMeters`, each exactly once. The planar
    * degrees variant lies at latitude (longitude degrees shrink by cos φ);
    * this one prefilters with a latitude-aware RECTANGULAR cell disk and
    * verifies with the exact haversine residual.
    *
    * Prefilter bound (per row at latitude φ): any partner within D meters
    * satisfies |Δφ| ≤ D/R, so ky = ⌊ΔlatDeg/cellH⌋+1 is a constant; and
    * haversine ≥ 2R·asin(√(cosφ_q·cosφ_p)·|sin(Δλ/2)|) with
    * √(cosφ_q·cosφ_p) ≥ cos φ* for φ* = min(90°, |φ|+ΔlatDeg) gives
    * |sin(Δλ/2)| ≤ sin(D/2R)/cos φ* — per-row kx. BOTH members of a true
    * pair produce covering rects (each side's bound uses its own φ*, which
    * dominates the partner's latitude), so the disk-explode-one-side ×
    * id_a < id_b dedup of [[radiusPairs]] stays exact.
    *
    * POLAR CAPS — the scale hazard and its fix: kx grows as 1/cos φ* and
    * collapses to the full x ring (2^res/2 cells!) near the poles, so at
    * fine `res` a single polar row would explode thousands of candidate
    * cells. Rows whose kx exceeds `polarKxCap` therefore skip the rect
    * entirely and join through ONE per-hemisphere band key: every partner
    * that could be within D of ANY capped row (|lat| above the band
    * threshold − ΔlatDeg) also emits the band key, and the exact residual
    * filters as usual. Fan-out is then bounded by (2·polarKxCap+1)·(2ky+1)
    * per row everywhere on the globe; the trade is that the two cap bands
    * are single join keys — fine for the tiny polar caps of ordinary data,
    * deliberately skew-visible for polar-heavy corpora (use a coarser
    * `res`, which this operator REQUIREs when the band would swallow
    * non-polar latitudes). Each true pair is still met exactly twice in
    * self mode / once in cross mode: a capped row meets its partners via
    * the band, an uncapped row via its rect, and the two mechanisms never
    * double-count one ordered pair (a row's query keys are rect XOR band).
    *
    * Deliberately NOT an oracle query: like `knnJoinHaversine`, cross-engine
    * libm differences make float great-circle distances at the radius
    * boundary unreproducible in DuckDB — pinned by ScalaTest == brute
    * haversine (incl. polar-cap and antimeridian points) instead. */
  def radiusPairsHaversine(df: DataFrame, id: Column, lon: Column, lat: Column,
      radiusMeters: Double, res: Int, polarKxCap: Int = 16): DataFrame =
    radiusHaversineCore(df, id, lon, lat, df, id, lon, lat, radiusMeters, res,
      polarKxCap, selfPairs = true)

  /** Two-frame meters-radius join — [[radiusPairsHaversine]] semantics over
    * (left, right); the rect disk is exploded on the LEFT side only, so make
    * `left` the smaller/query side. */
  def radiusJoinHaversine(
      left: DataFrame, lId: Column, lLon: Column, lLat: Column,
      right: DataFrame, rId: Column, rLon: Column, rLat: Column,
      radiusMeters: Double, res: Int, polarKxCap: Int = 16): DataFrame =
    radiusHaversineCore(left, lId, lLon, lLat, right, rId, rLon, rLat,
      radiusMeters, res, polarKxCap, selfPairs = false)

  private def radiusHaversineCore(
      left: DataFrame, lId: Column, lLon: Column, lLat: Column,
      right: DataFrame, rId: Column, rLon: Column, rLat: Column,
      radiusMeters: Double, res: Int, polarKxCap: Int, selfPairs: Boolean): DataFrame = {
    require(radiusMeters > 0, s"radiusMeters must be positive: $radiusMeters")
    require(polarKxCap >= 1, s"polarKxCap must be >= 1: $polarKxCap")
    val n = 1L << res
    val cellH = 180.0 / n.toDouble
    val cellW = 360.0 / n.toDouble
    val R = 6371008.8 // mean earth radius — same constant as GeomOps.haversine
    val dLatDeg = Math.toDegrees(radiusMeters / R)
    val ky = math.floor(dLatDeg / cellH).toInt + 1
    // sin(D/2R) inflated by 1 ulp-ish so column-side float rounding can never
    // shave the prefilter below the true bound (superset is always safe)
    val sinHalf =
      Math.min(1.0, Math.sin(Math.min(Math.PI, radiusMeters / R) / 2.0) * (1 + 1e-12))
    val kxFull = (n / 2).toInt // 2·kxFull+1 ≥ n → rect emits the full x ring
    val kCap = math.min(polarKxCap, kxFull)
    val banding = kCap < kxFull
    // the latitude where kx first exceeds the cap, from the same bound the
    // per-row kx uses: kx > kCap ⟺ sinHalf/cos φ* > sin(kCap·cellW/2)
    // ⟺ |lat| > acos(sinHalf/sinCap) − ΔlatDeg. Partners of capped rows sit
    // at most ΔlatDeg below that (minus a float-safety margin).
    val phiBandPartner =
      if (!banding) Double.MaxValue
      else {
        val sinCap = Math.sin(Math.min(Math.PI, kCap * Math.toRadians(cellW)) / 2.0)
        val phiStarBand = Math.toDegrees(Math.acos(Math.min(1.0, sinHalf / sinCap)))
        val phiBandQuery = phiStarBand - dLatDeg
        require(phiBandQuery > dLatDeg + 1e-6,
          s"radius-join polar band would reach down to |lat| ≈ $phiBandQuery° " +
            s"(radius spans $dLatDeg° of latitude): coarsen res ($res) or raise " +
            s"polarKxCap ($polarKxCap) — at this res/radius the cell prefilter " +
            "cannot bound the longitude fan-out outside the polar caps")
        phiBandQuery - dLatDeg - 1e-6
      }
    val bandNorth = -1L; val bandSouth = -2L // never collide with cell ids (≥ 0)
    def bandOf(latC: Column): Column =
      when(latC >= 0, lit(bandNorth)).otherwise(lit(bandSouth))
    def kxCol(latC: Column): Column = {
      val phiStar = least(lit(90.0), abs(latC) + lit(dLatDeg))
      val cosPhi = cos(radians(phiStar))
      when(cosPhi <= lit(sinHalf), lit(kxFull))
        .otherwise((floor(degrees(lit(2.0) * asin(lit(sinHalf) / cosPhi)) / lit(cellW))
          .cast("int") + 1))
    }
    val qKx = kxCol(lLat)
    val rect = st.cellRect(st.cellId(lLon, lLat, res), least(qKx, lit(kCap)), lit(ky))
    val qKeys =
      if (banding) when(qKx > lit(kCap), array(bandOf(lLat))).otherwise(rect)
      else rect
    val pCell = st.cellId(rLon, rLat, res)
    val pKeys =
      if (banding)
        when(abs(rLat) > lit(phiBandPartner), array(pCell, bandOf(rLat)))
          .otherwise(array(pCell))
      else array(pCell)
    val a = left.select(lId.as("id_a"), lLon.as("lon_a"), lLat.as("lat_a"),
      explode(qKeys).as("cell"))
    val b = right.select(rId.as("id_b"), rLon.as("lon_b"), rLat.as("lat_b"),
      explode(pKeys).as("cell"))
    val dist = st.haversine(col("lon_a"), col("lat_a"), col("lon_b"), col("lat_b"))
    val keep = if (selfPairs) col("id_a") < col("id_b") else lit(true)
    a.join(b, "cell")
      .withColumn("dist_m", dist)
      .filter(keep && col("dist_m") <= lit(radiusMeters))
      .select(col("id_a"), col("id_b"), col("dist_m"))
  }

  private def radiusCore(
      left: DataFrame, lId: Column, lLon: Column, lLat: Column,
      right: DataFrame, rId: Column, rLon: Column, rLat: Column,
      radiusDeg: Double, res: Int, scale: Int,
      selfPairs: Boolean): DataFrame = {
    val qr = math.round(radiusDeg * scale)
    require(math.abs(radiusDeg * scale - qr) < 1e-9,
      s"radiusDeg ($radiusDeg) must be a multiple of 1/$scale")
    // Ring count must cover the quantization slack: cells come from TRUE
    // coords but membership uses round(coord·scale), so a pair with
    // quantized distance ≤ qr can be up to radiusDeg + 1/scale apart in
    // true coords (each axis round is off by ≤ 0.5/scale per point) —
    // floor(D/cellH)+1 cells. ceil(radiusDeg/cellH) alone silently drops
    // boundary pairs whenever radiusDeg is within 1/scale of a multiple of
    // the cell height (e.g. res=6 h=2.8125, radiusDeg=2.812).
    val cellH = 180.0 / (1L << res).toDouble
    val k = math.floor((radiusDeg + 1.0 / scale) / cellH).toInt + 1
    val a = left.select(lId.as("id_a"),
      round(lLon * scale).cast("long").as("qx_a"),
      round(lLat * scale).cast("long").as("qy_a"),
      explode(st.cellDisk(st.cellId(lLon, lLat, res), lit(k))).as("cell"))
    val b = right.select(rId.as("id_b"),
      round(rLon * scale).cast("long").as("qx_b"),
      round(rLat * scale).cast("long").as("qy_b"),
      st.cellId(rLon, rLat, res).as("cell"))
    val d2 = (col("qx_a") - col("qx_b")) * (col("qx_a") - col("qx_b")) +
      (col("qy_a") - col("qy_b")) * (col("qy_a") - col("qy_b"))
    // self mode: each unordered pair is met twice (disk membership is
    // symmetric) — the id order keeps exactly one
    val keep = if (selfPairs) col("id_a") < col("id_b") else lit(true)
    a.join(b, "cell")
      .filter(keep && d2 <= lit(qr * qr))
      .select(col("id_a"), col("id_b"), d2.as("qdist2"))
  }

  /** Connectivity clustering over points: every pair within planar
    * `radiusDeg` is in the same cluster (the transitive closure —
    * DBSCAN-style density connectivity at minPts = 2, with isolated points
    * kept as their own singleton cluster). Returns the input columns plus
    * `cluster` = the component's minimum id — the hotspot-analysis
    * primitive ("group co-located images") composed from the two
    * scale-audited pieces: [[radiusPairs]] (cell-disk prefilter + exact
    * integer residual; no all-pairs anywhere) and
    * `Dedup.connectedComponents` (pointer-jumping min-label passes for the
    * clique-ish dense hotspots, star contraction after 10 passes for
    * stringy near-percolation chains; q46's converge on label pass 8 at
    * sf0.01 and sf0.1). Deterministic: the pair set is integer-quantized
    * and the component minimum is order-free. */
  def clusterPoints(df: DataFrame, id: Column, lon: Column, lat: Column,
      radiusDeg: Double, res: Int, scale: Int = 1000): DataFrame = {
    val pairs = radiusPairs(df, id, lon, lat, radiusDeg, res, scale)
    val comps = graft.operators.Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .withColumnRenamed("id", "__cc_id")
    df.join(comps, id === col("__cc_id"), "left")
      .withColumn("cluster", coalesce(col("comp"), id.cast("long")))
      .drop("__cc_id", "comp")
  }

  /** Morton-block id for a cell column: the high ⌈log₂ numPartitions⌉ bits
    * of the cell's morton code — a PURE FUNCTION of the cell value, so
    * placement derived from it is byte-stable across input parallelism AND
    * range-clustered (each block is one contiguous z-order range). Shared
    * by [[tileAssign]] and `SnapshotTable.commitBatch` — the one definition
    * of the z-block layout. NOT `repartitionByRange`: its boundaries are
    * sampled from the input layout and vary with parallelism, which breaks
    * per-file byte stability.
    */
  def zBlock(cell: Column, res: Int, numPartitions: Int): Column = {
    val mortonBits = 2 * res
    // ceil(log2(numPartitions)) — Integer.numberOfLeadingZeros is 32-bit
    val blockBits =
      if (numPartitions <= 1) 0
      else 32 - java.lang.Integer.numberOfLeadingZeros(numPartitions - 1)
    val shiftBy = math.max(0, mortonBits - blockBits)
    shiftrightunsigned(cell.bitwiseAND(lit(0x03FFFFFFFFFFFFFFL)), shiftBy)
  }

  /** Deterministic tile assignment + z-order layout: tile = cell at
    * `tileRes`; rows are placed by [[zBlock]] — a pure function of the tile
    * value — and sorted within partitions, so each output partition (and
    * each file written from it) is byte-identical at any input parallelism
    * (partition count fixed by `numPartitions`, not by cluster size), and
    * a partition's rows form a few contiguous z-order runs (tight per-file
    * min/max tile stats downstream).
    */
  def tileAssign(
      df: DataFrame, lon: Column, lat: Column,
      tileRes: Int, numPartitions: Int, sortCols: Seq[String]): DataFrame = {
    val tiled = df.withColumn("tile", st.cellId(lon, lat, tileRes))
    tiled
      .repartition(numPartitions, zBlock(col("tile"), tileRes, numPartitions))
      .sortWithinPartitions(col("tile") +: sortCols.map(col): _*)
  }
}
