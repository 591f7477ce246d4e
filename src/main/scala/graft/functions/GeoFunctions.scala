package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial scalar functions.
  *
  * Semantics follow the reference's geo helpers (re-expressed, not ported):
  *  - haversine: spark-jobs .../service/TripTrackingService.scala:69-75
  *    (6371 km mean-earth-radius great-circle distance, result in km).
  *  - vincenty: spark-jobs .../utils/BestLatLngCalculator.scala:16-23 —
  *    WGS84 inverse geodesic in meters with the reference's zero-latitude
  *    guard returning 1.0e7 (treats lat==0 as "invalid coordinate").
  *  - geohash:  spark-jobs .../utils/Geohash.scala:7-73 — standard base32
  *    geohash encode/decode (public algorithm).
  *
  * `haversineKm`/`geofenceContains` are pure Column math → whole-stage
  * codegen, no UDF. Vincenty is iterative, so it is a Scala function +
  * registered UDF (used both in queries and inside the election
  * aggregators where it runs over small bounded arrays).
  */
object GeoFunctions {

  /** Great-circle distance in km, 6371 km earth radius. Pure column math. */
  def haversineKm(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLng = radians(lng2 - lng1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLng / 2), 2)
    lit(2 * 6371.0) * asin(sqrt(a))
  }

  /** Point-in-circular-geofence (radius in km). */
  def geofenceContains(lat: Column, lng: Column,
                       centerLat: Column, centerLng: Column, radiusKm: Column): Column =
    haversineKm(lat, lng, centerLat, centerLng) < radiusKm

  /** Scala-side haversine (km) for use inside aggregators/state functions. */
  def haversineKmScala(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLng = math.toRadians(lng2 - lng1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLng / 2), 2)
    2 * 6371.0 * math.asin(math.sqrt(a))
  }

  /** Scala-side haversine in METERS — spelled op-for-op like the q77
    * DuckDB oracle expression (((2*6371)*asin(...))*1000, left-assoc) so
    * threshold compares and 1/(1+d) scores agree across engines.
    */
  def haversineMScala(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    haversineKmScala(lat1, lng1, lat2, lng2) * 1000.0

  // WGS84 ellipsoid
  private val SemiMajor = 6378137.0
  private val SemiMinor = 6356752.31420
  private val Flattening = (SemiMajor - SemiMinor) / SemiMajor

  /** Vincenty inverse geodesic distance in meters on WGS84, with the
    * reference's guard: any zero latitude → 1.0e7 m (invalid sentinel).
    * Falls back to haversine when the iteration fails to converge
    * (antipodal points).
    *
    * The endpoints are canonicalized (lexicographically smaller (lat,lng)
    * first) before evaluating, so `d(a,b) == d(b,a)` BIT-FOR-BIT.
    * Mathematically the inverse problem is symmetric, but the classic
    * sinσ expression tree is not — the two directions round differently at
    * the last ulp, and which direction lands lower is effectively a
    * per-libm coin flip. That matters because A11 scores mutual pairs from
    * both directions: the two last-indexed locations of every group score
    * each other, so an uncanonicalized kernel turns their score tie into
    * engine-dependent argmax noise (observed: 10 of 1500 sf0.1 elections
    * flipped vs DuckDB's replay of the same loop). Canonical order makes
    * the tie exact in every numeric environment, and the insertion-order
    * tie-break (deliberate deviation #1, Elections.scala) resolves it
    * identically. The swap moves any individual distance by ≤1 ulp
    * (~1e-9 m here) — far below the 300/200 m election thresholds'
    * measured ≥57 m data margins.
    */
  def vincentyM(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    if (lat1 == 0 || lat2 == 0) return 1.0e7
    if (lat1 == lat2 && lng1 == lng2) return 0.0
    if (lat2 < lat1 || (lat2 == lat1 && lng2 < lng1))
      return vincentyM(lat2, lng2, lat1, lng1)
    val L = math.toRadians(lng2 - lng1)
    val u1 = math.atan((1 - Flattening) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - Flattening) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)

    var lambda = L
    var lambdaPrev = Double.MaxValue
    var iter = 0
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    while (math.abs(lambda - lambdaPrev) > 1e-12 && iter < 200) {
      val sinLambda = math.sin(lambda); val cosLambda = math.cos(lambda)
      sinSigma = math.sqrt(
        math.pow(cosU2 * sinLambda, 2) +
          math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosLambda, 2))
      if (sinSigma == 0) return 0.0
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinLambda / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cosSqAlpha == 0) 0.0 else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = Flattening / 16 * cosSqAlpha * (4 + Flattening * (4 - 3 * cosSqAlpha))
      lambdaPrev = lambda
      lambda = L + (1 - c) * Flattening * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      iter += 1
    }
    if (iter >= 200) return haversineKmScala(lat1, lng1, lat2, lng2) * 1000.0
    val uSq = cosSqAlpha * (SemiMajor * SemiMajor - SemiMinor * SemiMinor) / (SemiMinor * SemiMinor)
    val a = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val b = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val deltaSigma = b * sinSigma * (cos2SigmaM + b / 4 *
      (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
        b / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    SemiMinor * a * (sigma - deltaSigma)
  }

  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash encode (base32), precision in characters. */
  def geohashEncodeScala(lat: Double, lng: Double, precision: Int): String = {
    var minLat = -90.0; var maxLat = 90.0
    var minLng = -180.0; var maxLng = 180.0
    val sb = new java.lang.StringBuilder(precision)
    var bit = 0
    var ch = 0
    var even = true
    while (sb.length < precision) {
      if (even) {
        val mid = (minLng + maxLng) / 2
        if (lng > mid) { ch = (ch << 1) | 1; minLng = mid }
        else { ch = ch << 1; maxLng = mid }
      } else {
        val mid = (minLat + maxLat) / 2
        if (lat > mid) { ch = (ch << 1) | 1; minLat = mid }
        else { ch = ch << 1; maxLat = mid }
      }
      even = !even
      bit += 1
      if (bit == 5) { sb.append(Base32.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Geohash decode → (lat, lng) cell-center. */
  def geohashDecodeScala(gh: String): (Double, Double) = {
    var minLat = -90.0; var maxLat = 90.0
    var minLng = -180.0; var maxLng = 180.0
    var even = true
    gh.foreach { c =>
      val cd = Base32.indexOf(c)
      var i = 4
      while (i >= 0) {
        val bitSet = ((cd >> i) & 1) == 1
        if (even) {
          val mid = (minLng + maxLng) / 2
          if (bitSet) minLng = mid else maxLng = mid
        } else {
          val mid = (minLat + maxLat) / 2
          if (bitSet) minLat = mid else maxLat = mid
        }
        even = !even
        i -= 1
      }
    }
    ((minLat + maxLat) / 2, (minLng + maxLng) / 2)
  }

  val geohashEncodeUdf = udf(geohashEncodeScala _)

  def geohashEncode(lat: Column, lng: Column, precision: Int): Column =
    geohashEncodeUdf(lat, lng, lit(precision))
}
