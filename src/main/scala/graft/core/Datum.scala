package graft.core

/** Datum shifts, proj4-parity (the reference reprojects every non-identity
  * .prj through its bundled proj4: `/root/reference/src/ShapeFile.js:58-65,89`,
  * `lib/proj4.js` modules 25/30/31/33/66). Three pieces, all replicated with
  * the bundle's exact numerics:
  *
  *  1. WKT DATUM name → datumCode (lowercase, `d_` strip, the NZ/Belge/OSGB/
  *     Ferro/Jakarta special rules of the wkt module);
  *  2. the bundle's 16-entry towgs84 table → 3- or 7-parameter Helmert
  *     (seconds→radians via 4.84813681109536e-6, ppm scale via /1e6+1);
  *  3. the geocentric round-trip: geodetic→geocentric on the source
  *     ellipsoid, optional Helmert to WGS84, then the 30-iteration
  *     geocentric→geodetic on WGS84.
  *
  * Notable consequences preserved as-is: ESRI's `D_North_American_1927`
  * lowercases to `north_american_1927`, which is NOT the table's `nad27`
  * key, so the reference applies NO parameter shift for NAD27 — just the
  * Clarke-1866→WGS84 ellipsoid swap through geocentric (verified against
  * the live bundle); grid-shift datums (`nadgrids`) are therefore
  * unreachable from WKT names and unimplemented.
  */
object Datum {

  /** proj4 datum_type values actually reachable here. */
  val Type3Param = 1
  val Type7Param = 2
  val TypeWgs84 = 4 // no parameter shift (params absent or all-zero)

  final case class Spec(a: Double, es: Double, datumType: Int, params: Array[Double])

  private val Sec2Rad = 4.84813681109536e-6 // proj4 484813681109536e-20
  private val HalfPi = Math.PI / 2

  /** deriveConstants es = (a²−b²)/a² with b = (1−1/rf)·a. */
  def derivedEs(a: Double, rf: Double): Double = {
    val b = (1 - 1 / rf) * a
    val a2 = a * a; val b2 = b * b
    (a2 - b2) / a2
  }

  private val WgsA = 6378137.0
  private val WgsEs = derivedEs(WgsA, 298.257223563)

  /** wkt-module datumCode derivation (exact rule order). The caller needs
    * the intermediate `wgs_1984` value for the Mercator_Auxiliary_Sphere
    * sphere flag — that check runs BEFORE the rename to `wgs84`. */
  def datumCode(datumName: String): String = {
    var c = datumName.toLowerCase
    if (c.startsWith("d_")) c = c.substring(2)
    if (c == "new_zealand_geodetic_datum_1949" || c == "new_zealand_1949") c = "nzgd49"
    if (c == "wgs_1984") c = "wgs84"
    if (c.endsWith("_ferro")) c = c.dropRight(6)
    if (c.endsWith("_jakarta")) c = c.dropRight(8)
    if (c.contains("belge")) c = "rnb72"
    if (c.contains("osgb_1936")) c = "osgb36"
    c
  }

  /** Is this the bundle's pre-rename `wgs_1984` code (sphere flag hook)? */
  def isWgs1984Name(datumName: String): Boolean = {
    var c = datumName.toLowerCase
    if (c.startsWith("d_")) c = c.substring(2)
    c == "wgs_1984"
  }

  /** The bundle's Datum constants (module 25), towgs84 entries only. nad27
    * carries nadgrids instead — unreachable from WKT names (see header). */
  private val towgs84: Map[String, String] = Map(
    "wgs84" -> "0,0,0",
    "ch1903" -> "674.374,15.056,405.346",
    "ggrs87" -> "-199.87,74.79,246.62",
    "nad83" -> "0,0,0",
    "potsdam" -> "606.0,23.0,413.0",
    "carthage" -> "-263.0,6.0,431.0",
    "hermannskogel" -> "653.0,-212.0,449.0",
    "ire65" -> "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15",
    "rassadiran" -> "-133.63,-157.5,-158.62",
    "nzgd49" -> "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993",
    "osgb36" -> "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894",
    "s_jtsk" -> "589,76,480",
    "beduaram" -> "-106,-87,188",
    "gunung_segara" -> "-403,684,41",
    "rnb72" -> "106.869,-52.2978,103.724,-0.33657,0.456955,-1.84218,1")

  /** Datum module (30): params parse + type classification + unit scaling. */
  def spec(code: String, a: Double, rf: Double): Spec = {
    require(code != "nad27",
      "nad27 is a NADCON grid-shift datum in the reference's proj4; the bundle ships no " +
        "grids and no ESRI WKT name reaches this code — unsupported")
    val es = derivedEs(a, rf)
    towgs84.get(code) match {
      case None => Spec(a, es, TypeWgs84, Array.empty)
      case Some(s) =>
        val p = s.split(",").map(_.toDouble)
        var t = TypeWgs84
        if (p(0) != 0 || p(1) != 0 || p(2) != 0) t = Type3Param
        if (p.length > 3 && (p(3) != 0 || p(4) != 0 || p(5) != 0 || p(6) != 0)) {
          t = Type7Param
          p(3) *= Sec2Rad; p(4) *= Sec2Rad; p(5) *= Sec2Rad
          p(6) = p(6) / 1e6 + 1
        }
        Spec(a, es, t, p)
    }
  }

  /** compare_datums(src, WGS84): WGS84's datum is type 4 with no params, so
    * any 3/7-param source mismatches on type; type-4 sources compare by
    * a == 6378137 exactly and |Δes| ≤ 5e-11 (NAD83/GRS80 pass). */
  def isNoOp(src: Spec): Boolean =
    src.datumType == TypeWgs84 && src.a == WgsA && Math.abs(src.es - WgsEs) <= 5e-11

  /** (lon, lat) radians on `src` → (lon, lat) radians on WGS84, or None when
    * compare_datums makes the shift a no-op. Heights enter and leave as 0. */
  def shiftToWgs84(src: Spec): Option[(Double, Double) => (Double, Double)] =
    if (isNoOp(src)) None
    else Some { (lonIn, latIn) =>
      // ---- geodetic_to_geocentric on the source ellipsoid (module 30) ----
      var lat = latIn
      var skip = false
      if (lat < -HalfPi && lat > -1.001 * HalfPi) lat = -HalfPi
      else if (lat > HalfPi && lat < 1.001 * HalfPi) lat = HalfPi
      else if (lat < -HalfPi || lat > HalfPi) skip = true // bundle: mutation skipped
      if (skip) (lonIn, latIn)
      else {
        var lon = lonIn
        if (lon > Math.PI) lon -= 2 * Math.PI
        val sinLat = StrictMath.sin(lat); val cosLat = StrictMath.cos(lat)
        val sin2 = sinLat * sinLat
        val rn = src.a / Math.sqrt(1 - src.es * sin2)
        var gx = rn * cosLat * StrictMath.cos(lon)
        var gy = rn * cosLat * StrictMath.sin(lon)
        var gz = rn * (1 - src.es) * sinLat
        // ---- geocentric_to_wgs84: 3/7-param Helmert (module 30) ----
        if (src.datumType == Type3Param) {
          gx += src.params(0); gy += src.params(1); gz += src.params(2)
        } else if (src.datumType == Type7Param) {
          val dx = src.params(0); val dy = src.params(1); val dz = src.params(2)
          val rx = src.params(3); val ry = src.params(4); val rz = src.params(5)
          val m = src.params(6)
          val nx = m * (gx - rz * gy + ry * gz) + dx
          val ny = m * (rz * gx + gy - rx * gz) + dy
          val nz = m * (-ry * gx + rx * gy + gz) + dz
          gx = nx; gy = ny; gz = nz
        }
        // ---- geocentric_to_geodetic on WGS84 (module 30, iterative) ----
        geocentricToGeodeticWgs84(gx, gy, gz)
      }
    }

  /** The bundle's iterative geocentric→geodetic (tolerance 1e-12 on the
    * direction cosinus, ≤30 iterations), on the WGS84 ellipsoid. */
  private def geocentricToGeodeticWgs84(w: Double, x: Double, y: Double): (Double, Double) = {
    val genau = 1e-12
    val p = Math.sqrt(w * w + x * x)
    val rr = Math.sqrt(w * w + x * x + y * y)
    if (p / WgsA < genau) {
      // at the earth's axis: lon = 0; at the exact center the bundle bails
      // without writing back — mirror by passing the inputs through
      if (rr / WgsA < genau) return (w, x)
      val lon = 0.0
      // fall through the iteration with q=0 — replicate by running the same
      // loop below with atan2 skipped
      return iterate(lon, w, x, y, p, rr)
    }
    val lon = StrictMath.atan2(x, w)
    iterate(lon, w, x, y, p, rr)
  }

  private def iterate(lon: Double, w: Double, x: Double, y: Double,
      p: Double, rr: Double): (Double, Double) = {
    val genau2 = 1e-24
    val ct = y / rr
    val st = p / rr
    var rx = 1.0 / Math.sqrt(1 - WgsEs * (2 - WgsEs) * st * st)
    var cphi0 = st * (1 - WgsEs) * rx
    var sphi0 = ct * rx
    var iter = 0
    var cphi = cphi0
    var sphi = sphi0
    var sdphi = 0.0
    var continueLoop = true
    while (continueLoop) {
      iter += 1
      val rn = WgsA / Math.sqrt(1 - WgsEs * sphi0 * sphi0)
      val height = p * cphi0 + y * sphi0 - rn * (1 - WgsEs * sphi0 * sphi0)
      val rk = WgsEs * rn / (rn + height)
      rx = 1.0 / Math.sqrt(1 - rk * (2 - rk) * st * st)
      cphi = st * (1 - rk) * rx
      sphi = ct * rx
      sdphi = sphi * cphi0 - cphi * sphi0
      cphi0 = cphi
      sphi0 = sphi
      continueLoop = sdphi * sdphi > genau2 && iter < 30
    }
    (lon, StrictMath.atan(sphi / Math.abs(cphi)))
  }
}
