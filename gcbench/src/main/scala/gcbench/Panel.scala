package gcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.codecs.{GpxCodec, KmlCodec}
import graft.core.{CellIndex, GeoJson, JArr, JObj, Json, Kernels, Wkb, Wkt}
import graft.functions.{codecs, st}
import graft.operators.Dedup

/** Kernel and expression panels of the traced run. Kernels are plain
  * one-thread JVM calls; expressions run through Catalyst over a cached
  * frame and are charged the executor CPU time of their job per row. */
object Panel {

  /** Small samples from the workload generators, fixed by the seed. */
  def inputs(spark: SparkSession, seed: Long): PanelInputs = {
    val base = Gen.pointBase(seed)
    val n = 20000
    val lons = new Array[Double](n); val lats = new Array[Double](n)
    (0 until n).foreach { i =>
      val ph = Kernels.phashFor(base + i)
      lons(i) = Kernels.phashLon(ph); lats(i) = Kernels.phashLat(ph)
    }
    val pip = new PipTile(spark, seed, 0.01, inject = false)
    val corpus = Gen.corpus(seed, 2000, 100)
    PanelInputs(lons, lats, pip.polys, corpus.docs, corpus.clusters, Gen.geoDocs(seed, 64, 200))
  }

  /** ns per item of `f` over `n` items: after 150 ms of warm-up, median
    * of five rounds, each repeated until it lasts at least 20 ms. */
  def nsPerItem(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    val warm = System.nanoTime() + 150000000L
    while (System.nanoTime() < warm) { var i = 0; while (i < n) { sink += f(i); i += 1 } }
    val rounds = (0 until 5).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var t1 = t0
      while (t1 - t0 < 20000000L) {
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        reps += 1
        t1 = System.nanoTime()
      }
      (t1 - t0).toDouble / (reps.toLong * n)
    }
    Stats.sink += sink
    Stats.median(rounds)
  }

  /** (point index, polygon index) pairs that the res-7 cell prefilter
    * hands to the exact test. */
  private def candidatePairs(in: PanelInputs, limit: Int): Array[(Int, Int)] = {
    val covers = in.polys.map(p => CellIndex.cover(p.geom, 7).toSet)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < in.lons.length && out.size < limit) {
      val c = CellIndex.encode(in.lons(i), in.lats(i), 7)
      covers.indices.foreach(k => if (covers(k).contains(c)) out += ((i, k)))
      i += 1
    }
    out.take(limit).toArray
  }

  def kernels(in: PanelInputs): Seq[(String, Double, String)] = {
    val wkbs = in.polys.map(p => Wkb.write(p.geom)).toArray
    val geoms = in.polys.map(_.geom).toArray
    val pairs = candidatePairs(in, 20000)
    val texts = in.docs.map(_.text).toArray
    val sh = texts.map(t => Kernels.shingleHashes(t, 4))
    val simPairs = in.clusters.flatMap(c => c.ids.sliding(2).collect { case Seq(a, b) => (a.toInt, b.toInt) }).toArray
    val byFmt = in.geoDocs.groupBy(_.fmt).map { case (k, v) => k -> v.map(_.text).toArray }
    val gj = byFmt("geojson")
    val coverCells = geoms.map(g => CellIndex.cover(g, 7).length.toDouble)
    Seq(
      ("core.cell_encode_ns", nsPerItem(in.lons.length)(i => CellIndex.encode(in.lons(i), in.lats(i), 7)), "ns"),
      ("core.cover_us", nsPerItem(geoms.length)(i => CellIndex.cover(geoms(i), 7).length.toLong) / 1e3, "us"),
      ("core.cover_cells", coverCells.sum / coverCells.length, "cells"),
      ("core.contains_ns", nsPerItem(pairs.length) { i =>
        val (p, k) = pairs(i)
        if (Kernels.containsWkb(wkbs(k), in.lons(p), in.lats(p))) 1L else 0L
      }, "ns"),
      ("core.wkb_read_ns", nsPerItem(wkbs.length)(i => Wkb.read(wkbs(i)).numPoints.toLong), "ns"),
      ("core.minhash_us", nsPerItem(texts.length)(i => Kernels.minhashSig(texts(i), 4, 32)(0)) / 1e3, "us"),
      ("core.jaccard_ns", nsPerItem(simPairs.length) { i =>
        java.lang.Double.doubleToLongBits(Kernels.jaccardSorted(sh(simPairs(i)._1), sh(simPairs(i)._2)))
      }, "ns"),
      ("core.json_parse_us", nsPerItem(gj.length)(i => Json.parse(gj(i)).hashCode.toLong) / 1e3, "us"),
      ("codecs.kml_read_us", nsPerItem(byFmt("kml").length)(i => KmlCodec.kml2GeojsonString(byFmt("kml")(i)).length.toLong) / 1e3, "us"),
      ("codecs.gpx_read_us", nsPerItem(byFmt("gpx").length)(i => GpxCodec.gpx2GeojsonString(byFmt("gpx")(i)).length.toLong) / 1e3, "us"),
      ("codecs.wkt_read_us", nsPerItem(byFmt("wkt").length) { i =>
        GeoJson.collectionToJson(Wkt.wktToFeatureCollection(byFmt("wkt")(i))).render.length.toLong
      } / 1e3, "us"),
      ("codecs.geojson_features_us", nsPerItem(gj.length) { i =>
        Json.parse(gj(i)) match {
          case o: JObj => o.get("features") match {
            case Some(JArr(fs)) => fs.map(_.render.length.toLong).sum
            case _ => 0L
          }
          case _ => 0L
        }
      } / 1e3, "us"))
  }

  /** Executor CPU per row of one expression over a cached frame. */
  private def exprCost(tr: Trace, name: String, df: DataFrame, e: org.apache.spark.sql.Column): Double = {
    val n = df.count().toDouble
    df.select(e.as("x")).write.format("noop").mode("overwrite").save() // codegen and JIT warm-up
    val runs = (0 until 3).map { _ =>
      tr.span(s"panel.$name")(df.select(e.as("x")).write.format("noop").mode("overwrite").save())
      tr.all.last.query.cpuNs / n
    }
    Stats.median(runs)
  }

  def functions(spark: SparkSession, tr: Trace, in: PanelInputs): Seq[(String, Double, String)] = {
    import spark.implicits._
    def cached(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_ONLY); p.count(); p }
    val base = Gen.pointBase(0)
    val pts = cached(spark.range(base, base + 200000, 1, 4)
      .select(st.phashFor(col("id")).as("ph"))
      .select(graft.operators.SpatialOps.phashLon(col("ph")).as("lon"),
        graft.operators.SpatialOps.phashLat(col("ph")).as("lat")))
    val wkbs = in.polys.map(p => Wkb.write(p.geom))
    val pairs = cached(candidatePairs(in, 10000).toSeq
      .map { case (p, k) => (in.lons(p), in.lats(p), wkbs(k)) }.toDF("lon", "lat", "geom").repartition(4))
    val polys = cached((0 until 8).flatMap(_ => wkbs).toDF("geom").repartition(4))
    val docs = cached(in.docs.map(_.text).toDF("text").repartition(4))
    val kml = cached((0 until 4).flatMap(_ => in.geoDocs.filter(_.fmt == "kml").map(_.text)).toDF("text").repartition(4))
    val out = Seq(
      ("functions.cellid_ns", exprCost(tr, "cellid", pts, st.cellId(col("lon"), col("lat"), 7)), "ns"),
      ("functions.contains_ns", exprCost(tr, "contains", pairs, st.contains(col("geom"), col("lon"), col("lat"))), "ns"),
      ("functions.cellcover_us", exprCost(tr, "cellcover", polys, size(st.cellCover(col("geom"), 7))) / 1e3, "us"),
      ("functions.minhash_us", exprCost(tr, "minhash", docs, Dedup.minhash(col("text"), 4, 32)) / 1e3, "us"),
      ("functions.kml_to_geojson_us", exprCost(tr, "kml_to_geojson", kml, codecs.kmlToGeojson(col("text"))) / 1e3, "us"))
    Seq(pts, pairs, polys, docs, kml).foreach(_.unpersist(blocking = true))
    out
  }
}
