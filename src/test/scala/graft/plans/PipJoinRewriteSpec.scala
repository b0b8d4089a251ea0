package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
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

  /** Every node of `df`'s executed plan, inside AQE query stages too. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }

  /** `pts` ⋈ `polys` on st_contains by brute force, in a session without
    * the extension. */
  private def bruteRows(pts: DataFrame, polys: DataFrame, res: Int = 7): Set[(Long, Long)] = {
    val plain = graft.functions.SparkTestSession.spark
    import plain.implicits._
    val p1 = plain.createDataFrame(pts.collect().toSeq.asJava, pts.schema)
    val p2 = plain.createDataFrame(polys.collect().toSeq.asJava, polys.schema)
    p1.crossJoin(p2).filter(st.contains(col("geom"), col("lon"), col("lat")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
  }

  test("st_contains theta-join is planned as one PipJoin over one broadcast (no hash join, no NL)") {
    val naive = points(2000).join(polys, st.contains(col("geom"), col("lon"), col("lat")))
    assert(naive.collect().nonEmpty)
    val nodes = planNodes(naive)
    val plan = naive.queryExecution.executedPlan.toString
    assert(nodes.count(_.isInstanceOf[PipJoinExec]) == 1, plan)
    assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 1, plan)
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec] || n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec] || n.isInstanceOf[CartesianProductExec]), plan)
    // the geometry is emitted only while the plan above reads it
    def emitted(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case p: PipJoin => p.emitGeom }
    assert(emitted(naive) == Seq(true))
    assert(emitted(naive.select("id", "poly_id")) == Seq(false))
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

  test("SQL join on the world rectangle, whose cell cover would coarsen, gives the brute-force rows") {
    val rect = Seq((0L, Wkb.write(Wkt.parse("POLYGON ((-170 -80, 170 -80, 170 80, -170 80, -170 -80))"))))
      .toDF("poly_id", "geom")
    val pts = spark.range(2000).select(col("id"),
      (pmod(st.mix64(col("id")), lit(339000L)).cast("double") / 1000.0 - 169.5).as("lon"),
      (pmod(st.mix64(col("id") + 1000000), lit(159000L)).cast("double") / 1000.0 - 79.5).as("lat"))
    val got = pts.join(rect, st.contains(col("geom"), col("lon"), col("lat")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    val want = bruteRows(pts, rect)
    assert(want.size == 2000)
    assert(got == want)
  }

  test("polygons on the left of the SQL join; other conjuncts and the geometry column survive") {
    val pts = points(2000)
    val joined = polys.join(pts, st.contains(col("geom"), col("lon"), col("lat")) && col("id") % 3 =!= col("poly_id"))
    assert(joined.columns.toSeq == Seq("poly_id", "geom", "id", "lon", "lat"))
    assert(planNodes(joined).exists(_.isInstanceOf[PipJoinExec]), joined.queryExecution.executedPlan)
    val rows = joined.collect()
    assert(rows.forall(r => r.getAs[Array[Byte]]("geom") != null))
    val got = rows.map(r => (r.getLong(2), r.getLong(0))).toSet
    val want = bruteRows(pts, polys).filter { case (id, poly) => id % 3 != poly }
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("a malformed spark.graft.pip.res fails the query, naming the conf and the value") {
    spark.conf.set("spark.graft.pip.res", "seven")
    try {
      val e = intercept[Exception] {
        points(10).join(polys, st.contains(col("geom"), col("lon"), col("lat"))).collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("spark.graft.pip.res") && t.getMessage.contains("seven")),
        chain.map(String.valueOf).mkString("\n"))
    } finally spark.conf.unset("spark.graft.pip.res")
  }

  test("an extension session registers each function group once over 20 queries") {
    val reg = spark.sessionState.functionRegistry
    // a non-capturing builder lambda is one cached instance, so its
    // ExpressionInfo (new on every registration) is checked as well
    def entries = Seq("st_cellid", "kml_to_geojson", "img_phash").map { name =>
      val id = FunctionIdentifier(name)
      (reg.lookupFunctionBuilder(id).get, reg.lookupFunction(id).get)
    }
    spark.sql("SELECT st_cellid(1.0d, 2.0d, 5)").collect()
    val before = entries
    (1 to 20).foreach(i => spark.sql(s"SELECT st_cellid(1.0d, $i.0d, 5), kml_to_geojson(NULL)").collect())
    entries.zip(before).foreach { case (now, was) =>
      assert((now._1 eq was._1) && (now._2 eq was._2), s"re-registered: $was -> $now")
    }
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
    assert(!plan.contains("PipJoin"), plan)
    assert(joined.count() > 0)
  }
}
