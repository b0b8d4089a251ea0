package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    st.registerAll(s)
    s
  }
}

class StExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("st_point / st_x / st_y round-trip (codegen path)") {
    val df = Seq((121.5, 25.0), (-0.1278, 51.5074)).toDF("lon", "lat")
      .withColumn("g", st.point($"lon", $"lat"))
      .withColumn("x", st.x($"g")).withColumn("y", st.y($"g"))
    val rows = df.select("lon", "lat", "x", "y").collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(2))
      assert(r.getDouble(1) == r.getDouble(3))
    }
  }

  test("st_cellid matches CellIndex.encode, interpreted and codegen") {
    val pts = Seq((121.5, 25.0), (-179.9, -89.9), (0.0, 0.0), (179.9, 89.9))
    val got = pts.toDF("lon", "lat")
      .withColumn("c", st.cellId($"lon", $"lat", 12))
      .select("lon", "lat", "c").collect()
    got.foreach { r =>
      assert(r.getLong(2) == CellIndex.encode(r.getDouble(0), r.getDouble(1), 12))
    }
  }

  test("st_contains over WKB: polygon with hole") {
    val wkb = Wkb.write(Wkt.parse(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"))
    val df = Seq((5.0, 5.0, true), (3.0, 3.0, false), (11.0, 5.0, false), (1.0, 1.0, true))
      .toDF("px", "py", "expect")
      .withColumn("got", st.contains(lit(wkb), $"px", $"py"))
    df.collect().foreach { r =>
      assert(r.getBoolean(3) == r.getBoolean(2), s"(${r.getDouble(0)},${r.getDouble(1)})")
    }
  }

  test("st_contains WKB kernel agrees with ADT kernel on multipolygon") {
    val g = Wkt.parse("MULTIPOLYGON (((0 0, 5 0, 5 5, 0 5, 0 0)), ((10 10, 20 10, 15 18, 10 10)))")
    val wkb = Wkb.write(g)
    val rnd = new scala.util.Random(3)
    (1 to 500).foreach { _ =>
      val px = rnd.nextDouble() * 25 - 2; val py = rnd.nextDouble() * 25 - 2
      assert(Kernels.containsWkb(wkb, px, py) == GeomOps.contains(g, px, py), s"($px,$py)")
    }
  }

  test("SQL registration: st_* callable from spark.sql") {
    val r = spark.sql(
      "SELECT st_cellid(121.5d, 25.0d, 12) AS c, st_x(st_point(1.5d, 2.5d)) AS x, " +
        "st_contains(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), 2.0d, 2.0d) AS inside, " +
        "st_aswkt(st_point(1.0d, 2.0d)) AS w").head()
    assert(r.getLong(0) == CellIndex.encode(121.5, 25.0, 12))
    assert(r.getDouble(1) == 1.5)
    assert(r.getBoolean(2))
    assert(r.getString(3) == "POINT (1 2)")
  }

  test("st_cellcover + explode: covering cells join back to point cells") {
    val poly = Wkt.parse("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))")
    val pts = Seq((10.5, 10.5), (11.9, 11.9), (50.0, 50.0))
    val polyDf = Seq(Tuple1(Wkb.write(poly))).toDF("g")
      .select(explode(st.cellCover($"g", 8)).as("cell"))
    val ptCells = pts.toDF("lon", "lat")
      .withColumn("cell", st.cellId($"lon", $"lat", 8))
    val joined = ptCells.join(polyDf, "cell").select("lon", "lat").collect()
    assert(joined.length == 2) // (50,50) outside the cover
  }

  test("st_geomfromwkt_gc parity: unsupported tags -> null (Q11)") {
    val df = Seq("POINT (1 2)", "MULTIPOINT ((1 2))", "nonsense").toDF("w")
      .withColumn("g", st.geomFromWktGc($"w"))
    val got = df.select("g").collect().map(_.isNullAt(0))
    assert(got.toList == List(false, true, true))
  }

  test("geojson expressions round-trip") {
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    val r = spark.sql(
      s"SELECT st_asgeojson(st_geomfromwkt('$wkt')) AS gj").head()
    assert(r.getString(0) == """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}""")
    val r2 = spark.sql(s"SELECT st_aswkt(st_geomfromgeojson(st_asgeojson(st_geomfromwkt('$wkt')))) AS w").head()
    assert(r2.getString(0) == wkt)
  }

  test("mix64 deterministic and dispersive") {
    val got = (1L to 100L).toDF("k").withColumn("m", st.mix64($"k")).select("m").collect().map(_.getLong(0))
    assert(got.toSet.size == 100)
    assert(got(0) == Kernels.mix64(1L))
  }

  test("whole-stage codegen active for hot expressions") {
    val df = spark.range(100)
      .withColumn("lon", ($"id" % 360).cast("double") - 180.0)
      .withColumn("lat", ($"id" % 170).cast("double") - 85.0)
      .withColumn("cell", st.cellId($"lon", $"lat", 10))
      .withColumn("g", st.point($"lon", $"lat"))
      .withColumn("d", st.haversine($"lon", $"lat", lit(0.0), lit(0.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // "*(n)" = WholeStageCodegen span
    // and values are right
    val r = df.filter($"id" === 10).head()
    assert(r.getAs[Long]("cell") == CellIndex.encode(-170.0, -75.0, 10))
    assert(r.getAs[Double]("d") == GeomOps.haversine(-170.0, -75.0, 0.0, 0.0))
  }

  test("codec expressions: malformed input → null, seeded internal faults propagate") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    // the narrow-catch mechanism: only the malformed-input taxonomy nulls;
    // a genuine codec bug (NPE here) must surface, not disappear as null
    case class SeededNpe(child: Expression) extends Str2Str {
      override def convert(s: String): String = throw new NullPointerException("seeded codec bug")
      override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    }
    case class SeededMalformed(child: Expression) extends Str2Str {
      override def convert(s: String): String = throw new IllegalArgumentException("bad doc")
      override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    }
    val in = UTF8String.fromString("x")
    intercept[NullPointerException](SeededNpe(Literal("x")).nullSafeEval(in))
    assert(SeededMalformed(Literal("x")).nullSafeEval(in) == null)
    // the three formerly-blanket-catch expressions still null on data-level
    // garbage (truncated shp → index error; non-zip bytes → ZipException;
    // non-JSON text → parse IAE), through the full Spark path
    val garbage = Array[Byte](1, 2, 3, 4, 5)
    val row = spark.range(1).select(
      codecs.shapefileToGeojson(lit(garbage), lit(garbage), lit(null).cast("string")).as("shp"),
      codecs.kmzToGeojsons(lit(garbage)).as("kmz"),
      codecs.geojsonFeatures(lit("not json at all")).as("gj")).head()
    assert(row.isNullAt(0) && row.isNullAt(2))
    // the kmz scanner is itself lenient: no zip entries in garbage → empty
    assert(row.getSeq[String](1).isEmpty)
  }
}
