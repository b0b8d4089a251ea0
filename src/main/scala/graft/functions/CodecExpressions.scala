package graft.functions

import scala.annotation.tailrec

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.codecs._
import graft.core.{GeoJson, JArr, JObj, JValue, Json, Wkt}

/** Format-conversion expressions: GeoConvert's whole-document converters
  * as columnar functions (SURVEY.md §2.1 S1–S11). Document parsing is
  * row-local and stateful within a row, so these are CodegenFallback
  * expressions (cold path; the hot spatial kernels live in StExpressions).
  *
  * The decoders into GeoJSON (`kml/gpx/dxf_to_geojson`, `wkt_to_geojson_gc`)
  * build a JSON tree ([[TreeCodec]]) and return its rendering.
  * `geojson_features` over one of them, directly or through the taken
  * branch of a `CASE WHEN fmt ...` dispatch, takes the tree instead and
  * renders each feature from it, so a document's coordinates are printed
  * once. Downstream, `st_geomfromgeojson(get_json_object(f, '$.geometry'))`
  * reads the feature `f` in one parse, and runs the two-step chain for a
  * feature where one parse could disagree with it (see
  * [[StGeomFromGeoJson]]). Both shortcuts give the bytes of the chain of
  * string-to-string functions.
  */

private[functions] object Str2Str {
  /** Malformed input → null; genuine codec bugs (NPE, arithmetic, stack
    * overflow…) must propagate — a blanket catch made them
    * indistinguishable from bad data in pipelines. The codecs signal
    * malformed input with IAE (incl. NumberFormat), slice/index errors on
    * truncated documents, and cast/match errors on structurally-invalid
    * JSON trees (e.g. "coordinates": 7). */
  def isMalformedInput(t: Throwable): Boolean = t match {
    case _: IllegalArgumentException | _: IndexOutOfBoundsException |
         _: NoSuchElementException | _: UnsupportedOperationException |
         _: ClassCastException | _: MatchError => true
    case _ => false
  }

  def orNull(body: => Any): Any =
    try body catch { case t: Throwable if isMalformedInput(t) => null }
}

private[functions] trait Str2Str extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  def convert(s: String): String
  override def nullSafeEval(v: Any): Any =
    Str2Str.orNull(UTF8String.fromString(convert(v.asInstanceOf[UTF8String].toString)))
}

/** A decoder into GeoJSON whose result is a JSON tree; its string form is
  * the tree's rendering. */
private[functions] trait TreeCodec extends Str2Str {
  def tree(s: String): JValue
  override def convert(s: String): String = tree(s).render
}

case class KmlToGeojson(child: Expression) extends TreeCodec {
  override def tree(s: String): JValue = KmlCodec.kml2Geojson(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "kml_to_geojson"
}

case class GeojsonToKml(child: Expression) extends Str2Str {
  override def convert(s: String): String = KmlCodec.geojson2Kml(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "geojson_to_kml"
}

case class GpxToGeojson(child: Expression) extends TreeCodec {
  override def tree(s: String): JValue = GpxCodec.gpx2Geojson(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "gpx_to_geojson"
}

case class GeojsonToGpx(child: Expression) extends Str2Str {
  override def convert(s: String): String = GpxCodec.geojson2Gpx(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "geojson_to_gpx"
}

case class DxfToGeojson(child: Expression) extends TreeCodec {
  override def tree(s: String): JValue = DxfCodec.dxf2Geojson(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "dxf_to_geojson"
}

/** wkt_to_geojson_gc(str) — GeoConvert's full wkt2Geojson entry point
  * (FeatureCollection string; unsupported tags → empty collection, Q11). */
case class WktToGeojsonGc(child: Expression) extends TreeCodec {
  override def tree(s: String): JValue = GeoJson.collectionToJson(Wkt.wktToFeatureCollection(s))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "wkt_to_geojson_gc"
}

/** shapefile_to_geojson(shp, dbf, prj) → GeoJSON string. */
case class ShapefileToGeojson(shp: Expression, dbf: Expression, prj: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def first: Expression = shp
  override def second: Expression = dbf
  override def third: Expression = prj
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = shp.eval(input); val d = dbf.eval(input); val p = prj.eval(input)
    if (s == null || d == null) null
    else try UTF8String.fromString(ShpCodec.shapefile2GeojsonString(ShpCodec.ShapeInput(
      s.asInstanceOf[Array[Byte]], d.asInstanceOf[Array[Byte]],
      Option(p).map(_.asInstanceOf[UTF8String].toString))))
    catch { case t: Throwable if Str2Str.isMalformedInput(t) => null }
  }
  override protected def withNewChildrenInternal(f: Expression, se: Expression, t: Expression): Expression =
    copy(shp = f, dbf = se, prj = t)
  override def prettyName: String = "shapefile_to_geojson"
}

/** kmz_to_geojsons(bytes) → array of GeoJSON strings (one per .kml entry). */
case class KmzToGeojsons(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    try new GenericArrayData(
      KmzCodec.kmz2Geojsons(v.asInstanceOf[Array[Byte]])
        .map(j => UTF8String.fromString(j.render)).toArray[Any])
    catch {
      // zip framing errors surface as ZipException/IOException — malformed
      // bytes, not codec bugs
      case t: Throwable if Str2Str.isMalformedInput(t) => null
      case _: java.io.IOException => null
    }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "kmz_to_geojsons"
}

/** geojson_features(str) → array of per-feature JSON strings.
  *
  * When the document comes from a [[TreeCodec]], directly or as the taken
  * branch of a CASE WHEN (chosen as `CaseWhen.eval` chooses it), the
  * features are rendered from the codec's tree. That gives the bytes of the
  * string path, because `render(parse(render(t)))` equals `render(t)` and a
  * tree nested deeper than `Json.MaxDepth` (which the string path fails to
  * parse) gives null. Lone surrogates become `?` at the UTF-8 boundary on
  * both paths. */
case class GeojsonFeatures(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = source(child, input) match {
    case None => null
    case Some(codec: TreeCodec) =>
      val v = codec.child.eval(input)
      if (v == null) null
      else Str2Str.orNull {
        val t = codec.tree(v.asInstanceOf[UTF8String].toString)
        if (Json.deeperThan(t, Json.MaxDepth)) null else features(t)
      }
    case Some(e) =>
      val v = e.eval(input)
      if (v == null) null else nullSafeEval(v)
  }
  override def nullSafeEval(v: Any): Any =
    Str2Str.orNull(features(Json.parse(v.asInstanceOf[UTF8String].toString)))

  /** The expression whose value is this row's document: through a CASE WHEN,
    * its taken branch (None when no branch is taken and there is no ELSE). */
  @tailrec private def source(e: Expression, input: InternalRow): Option[Expression] = e match {
    case CaseWhen(branches, elseValue) =>
      branches.collectFirst { case (c, v) if java.lang.Boolean.TRUE.equals(c.eval(input)) => v }
        .orElse(elseValue) match {
        case Some(taken) => source(taken, input)
        case None        => None
      }
    case _ => Some(e)
  }
  private def features(doc: JValue): Any = doc match {
    case o: JObj => o.get("features") match {
      case Some(JArr(items)) =>
        new GenericArrayData(items.map(f => UTF8String.fromString(f.render)).toArray[Any])
      case _ => null
    }
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "geojson_features"
}

object codecs {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def kmlToGeojson(c: Column): Column = col(KmlToGeojson(ex(c)))
  def geojsonToKml(c: Column): Column = col(GeojsonToKml(ex(c)))
  def gpxToGeojson(c: Column): Column = col(GpxToGeojson(ex(c)))
  def geojsonToGpx(c: Column): Column = col(GeojsonToGpx(ex(c)))
  def dxfToGeojson(c: Column): Column = col(DxfToGeojson(ex(c)))
  def wktToGeojsonGc(c: Column): Column = col(WktToGeojsonGc(ex(c)))
  def shapefileToGeojson(shp: Column, dbf: Column, prj: Column): Column =
    col(ShapefileToGeojson(ex(shp), ex(dbf), ex(prj)))
  def kmzToGeojsons(c: Column): Column = col(KmzToGeojsons(ex(c)))
  def geojsonFeatures(c: Column): Column = col(GeojsonFeatures(ex(c)))

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    one("kml_to_geojson") { e => KmlToGeojson(e(0)) }
    one("geojson_to_kml") { e => GeojsonToKml(e(0)) }
    one("gpx_to_geojson") { e => GpxToGeojson(e(0)) }
    one("geojson_to_gpx") { e => GeojsonToGpx(e(0)) }
    one("dxf_to_geojson") { e => DxfToGeojson(e(0)) }
    one("wkt_to_geojson_gc") { e => WktToGeojsonGc(e(0)) }
    one("shapefile_to_geojson") { e =>
      ShapefileToGeojson(e(0), e(1), if (e.length > 2) e(2) else Literal(null, StringType))
    }
    one("kmz_to_geojsons") { e => KmzToGeojsons(e(0)) }
    one("geojson_features") { e => GeojsonFeatures(e(0)) }
  }
}
