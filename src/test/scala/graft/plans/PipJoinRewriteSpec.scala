package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.st
import graft.core.{Wkb, Wkt}

class PipJoinRewriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // getOrCreate silently ignores withExtensions when a session already
    // exists (other suites create one) — clear the defaults so the builder
    // constructs a fresh session (reusing the SparkContext) with the rule
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s // note: no registerAll — functions must come from the extension
  }
  import spark.implicits._

  def points(n: Int) = spark.range(n).select(col("id"),
    (pmod(st.mix64(col("id")), lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
    (pmod(st.mix64(col("id") + 99), lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))

  def polys = Seq(
    (0L, Wkb.write(Wkt.parse("POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 10 20, 20 20, 20 10, 10 10))"))),
    (1L, Wkb.write(Wkt.parse("POLYGON ((-120 -60, -60 -60, -90 -10, -120 -60))"))),
    (2L, Wkb.write(Wkt.parse("POLYGON ((100 10, 160 10, 160 70, 100 70, 100 10))")))
  ).toDF("poly_id", "geom")

  test("st_contains theta-join is rewritten to a cell equi-join (hash, not NL)") {
    val pts = points(2000)
    val naive = pts.join(polys, st.contains(col("geom"), col("lon"), col("lat")))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("__pip_cell"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("rewritten join rows == explicit nested-loop rows") {
    val pts = points(2000).cache()
    val got = pts.join(polys, st.contains(col("geom"), col("lon"), col("lat")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    // ground truth without the extension rule: fresh session, no extensions
    val plain = graft.functions.SparkTestSession.spark
    import org.apache.spark.sql.{functions => F}
    val pts2 = plain.range(2000).select(F.col("id"),
      (F.pmod(st.mix64(F.col("id")), F.lit(360000L)).cast("double") / 1000.0 - 180.0).as("lon"),
      (F.pmod(st.mix64(F.col("id") + 99), F.lit(170000L)).cast("double") / 1000.0 - 85.0).as("lat"))
    import plain.implicits._
    val polys2 = Seq(
      (0L, Wkb.write(Wkt.parse("POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 10 20, 20 20, 20 10, 10 10))"))),
      (1L, Wkb.write(Wkt.parse("POLYGON ((-120 -60, -60 -60, -90 -10, -120 -60))"))),
      (2L, Wkb.write(Wkt.parse("POLYGON ((100 10, 160 10, 160 70, 100 70, 100 10))")))
    ).toDF("poly_id", "geom")
    val want = pts2.crossJoin(polys2)
      .filter(st.contains(F.col("geom"), F.col("lon"), F.col("lat")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("rewrite fails loudly on a polygon whose cover would coarsen") {
    val rect = Seq((0L, Wkb.write(Wkt.parse("POLYGON ((-170 -80, 170 -80, 170 80, -170 80, -170 -80))"))))
      .toDF("poly_id", "geom")
    val e = intercept[Exception] {
      points(200).join(rect, st.contains(col("geom"), col("lon"), col("lat"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("exceeds maxCells")))
  }

  test("SQL functions injected by the extension alone") {
    val r = spark.sql("SELECT st_cellid(1.0d, 2.0d, 5) c, " +
      "st_aswkt(st_geomfromwkt('POINT (1 2)')) w, " +
      "length(kml_to_geojson('<kml><Document><Placemark><Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>')) n").head()
    assert(r.getLong(0) == graft.core.CellIndex.encode(1.0, 2.0, 5))
    assert(r.getString(1) == "POINT (1 2)")
    assert(r.getInt(2) > 50)
  }

  test("joins that already have an equi key are left alone") {
    val a = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    val b = spark.range(7).select(col("id").as("k2"), st.point(lit(1.0), lit(2.0)).as("geom"))
    val joined = a.join(b, col("k") === col("k2") &&
      st.contains(col("geom"), lit(1.0), lit(2.0)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("__pip_cell"), plan)
    assert(joined.count() > 0)
  }
}
