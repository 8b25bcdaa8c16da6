package graft.fn

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Geodesic / grid distance functions (SURVEY.md §2.7 F4/F5).
  *
  * The reference weights IDW neighbors by WGS-84 Vincenty distance in km
  * (`vincenty_distance`, trackplot_hycom.py:52-57, used at :105) but
  * *snaps* to the grid by plain degree-space Euclidean distance
  * (trackplot_hycom.py:79). Both are provided; haversine is the pure
  * built-in (codegen-friendly) approximation, Vincenty the exact UDF.
  */
object GeoFns {

  /** Haversine great-circle distance in km on a spherical Earth
    * (R = 6371.0088 km, IUGG mean radius). Pure built-ins; differs from
    * Vincenty by <= ~0.5% — use where codegen matters more than geodesic
    * exactness.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val r = lit(6371.0088)
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    r * lit(2.0) * asin(sqrt(a))
  }

  /** WGS-84 Vincenty inverse distance in km (F4). Iterative formula —
    * cannot be expressed in closed-form Column arithmetic, so a Scala
    * UDF (still JVM-native per-row; no serialization across a process
    * boundary in local or cluster mode).
    *
    * Matches the pypi `vincenty` package semantics the reference wraps
    * (trackplot_hycom.py:52-57): WGS-84 ellipsoid, result in km, and
    * `0.0` for coincident points; falls back to haversine on
    * non-convergence (antipodal edge case).
    */
  def vincentyKmScala(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = 6378137.0               // WGS-84 semi-major axis (m)
    val f = 1.0 / 298.257223563     // WGS-84 flattening
    val b = (1 - f) * a

    if (lat1 == lat2 && lon1 == lon2) return 0.0

    val u1 = math.atan((1 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - f) * math.tan(math.toRadians(lat2)))
    val l = math.toRadians(lon2 - lon1)
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)

    var lambda = l
    var iter = 0
    var converged = false
    var cosSqAlpha = 0.0; var sinSigma = 0.0; var cosSigma = 0.0
    var sigma = 0.0; var cos2SigmaM = 0.0
    while (iter < 200 && !converged) {
      val sinLambda = math.sin(lambda); val cosLambda = math.cos(lambda)
      sinSigma = math.sqrt(
        math.pow(cosU2 * sinLambda, 2) +
        math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosLambda, 2))
      if (sinSigma == 0.0) return 0.0   // coincident
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinLambda / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cosSqAlpha == 0.0) 0.0
                   else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = f / 16 * cosSqAlpha * (4 + f * (4 - 3 * cosSqAlpha))
      val lambdaPrev = lambda
      lambda = l + (1 - c) * f * sinAlpha *
        (sigma + c * sinSigma *
          (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      if (math.abs(lambda - lambdaPrev) < 1e-12) converged = true
      iter += 1
    }
    if (!converged) {
      // antipodal non-convergence: spherical fallback
      val dLat = math.toRadians(lat2 - lat1)
      val dLon = math.toRadians(lon2 - lon1)
      val h = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dLon / 2), 2)
      return 6371.0088 * 2 * math.asin(math.sqrt(h))
    }
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val deltaSigma = bigB * sinSigma *
      (cos2SigmaM + bigB / 4 *
        (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
         bigB / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) *
           (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    b * bigA * (sigma - deltaSigma) / 1000.0   // meters → km
  }

  /** `vincentyKmScala` as a Spark UDF (kept for comparison/testing —
    * prefer [[vincentyKmNative]], which stays inside whole-stage
    * codegen instead of breaking the span at a ScalaUDF call).
    */
  val vincentyKm: UserDefinedFunction =
    udf(vincentyKmScala _).asNonNullable()

  /** [[VincentyKm]] native-expression Column API: same math as the
    * UDF, but codegen'd inline (no closure invocation, no span break).
    * Also registered as SQL `vincenty_km` via graft.GraftExtensions.
    */
  def vincentyKmNative(lat1: Column, lon1: Column,
                       lat2: Column, lon2: Column): Column = {
    import org.apache.spark.sql.{graftbridge => gb}
    gb.column(VincentyKm(gb.expression(lat1), gb.expression(lon1),
      gb.expression(lat2), gb.expression(lon2)))
  }

  /** P3/F9 longitude wrap: `lon < 0 → lon + 360`
    * (trackplot_hycom.py:167-170). Applied identically to track and grid
    * axes (SURVEY.md §7.4 trap 3).
    */
  def wrapLon360(lon: Column): Column =
    when(lon < 0, lon + 360.0).otherwise(lon)
}
