package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial math for the reference's spatial operators (SURVEY.md §2.7
  * F21-F24, §2.3 J2-J4) with no geo library (offline build):
  *
  *  - WGS84 -> UTM (Transverse Mercator, Krüger series) — the reference
  *    reprojects to EPSG:32612 for metric distances
  *    (get_osm_data.py:58-60, aggregate_rental_rates.py:101-111).
  *  - Closed-form grid cell assignment — replaces the reference's
  *    O(cells x rows) containment scan (aggregate_rental_rates.py:122-123)
  *    with a narrow projection: the engine's biggest asymptotic win.
  *  - Ray-casting point-in-polygon for the zoning join (J2).
  *
  * Grid/distance/PIP are pure Column expressions (codegen'd). UTM needs
  * trig series — kept as a deterministic scalar formula in Column algebra
  * too (sin/cos/sqrt are IEEE-deterministic), so no UDF serialization cost
  * on 100 TB scans.
  */
object GeoFunctions {

  // WGS84 ellipsoid
  private val A  = 6378137.0          // semi-major axis
  private val F  = 1.0 / 298.257223563
  private val K0 = 0.9996             // UTM scale factor
  private val E2 = F * (2 - F)        // first eccentricity squared

  /** Closed-form grid cell id for axis-aligned square cells:
    * (floor((x-minX)/cell), floor((y-minY)/cell)) packed row-major.
    * Replaces spatial containment join J4 with a projection + groupBy.
    */
  def gridCellId(x: Column, y: Column, minX: Double, minY: Double,
                 cellSize: Double, nCellsX: Long): Column = {
    val cx = floor((x - lit(minX)) / lit(cellSize)).cast("long")
    val cy = floor((y - lit(minY)) / lit(cellSize)).cast("long")
    cy * lit(nCellsX) + cx
  }

  def gridCellX(x: Column, minX: Double, cellSize: Double): Column =
    floor((x - lit(minX)) / lit(cellSize)).cast("long")

  /** Squared euclidean distance between planar points (post-UTM). */
  def distSq(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)

  /** WGS84 lon/lat (degrees) -> UTM easting/northing for a fixed zone
    * (reference uses zone 12N / EPSG:32612). Krüger series to n^3 —
    * sub-meter vs geodetic libraries, matching the reference's use
    * (500 m cells, 1 km radii).
    * Returns struct(easting, northing).
    */
  def toUtm(lon: Column, lat: Column, zone: Int = 12): Column = {
    val lon0 = (zone * 6 - 183).toDouble // central meridian, deg
    val phi = lat * lit(math.Pi / 180.0)
    val dLam = (lon - lit(lon0)) * lit(math.Pi / 180.0)
    // N: prime-vertical radius; T/C/Aa: standard TM terms (Snyder 8-9..8-13)
    val sinPhi = sin(phi); val cosPhi = cos(phi); val tanPhi = sinPhi / cosPhi
    val ep2 = E2 / (1 - E2)
    val nRad = lit(A) / sqrt(lit(1.0) - lit(E2) * sinPhi * sinPhi)
    val t = tanPhi * tanPhi
    val c = lit(ep2) * cosPhi * cosPhi
    val aa = cosPhi * dLam
    // meridional arc (Snyder 3-21)
    val m = lit(A) * (
      lit(1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256) * phi -
        lit(3 * E2 / 8 + 3 * E2 * E2 / 32 + 45 * E2 * E2 * E2 / 1024) * sin(phi * 2) +
        lit(15 * E2 * E2 / 256 + 45 * E2 * E2 * E2 / 1024) * sin(phi * 4) -
        lit(35 * E2 * E2 * E2 / 3072) * sin(phi * 6))
    val easting = lit(K0) * nRad * (aa +
      (lit(1.0) - t + c) * pow(aa, 3) / 6 +
      (lit(5.0) - lit(18.0) * t + t * t + lit(72.0) * c - lit(58.0) * ep2) *
        pow(aa, 5) / 120) + lit(500000.0)
    val northing = lit(K0) * (m + nRad * tanPhi * (
      pow(aa, 2) / 2 +
      (lit(5.0) - t + lit(9.0) * c + lit(4.0) * c * c) * pow(aa, 4) / 24 +
      (lit(61.0) - lit(58.0) * t + t * t + lit(600.0) * c - lit(330.0) * ep2) *
        pow(aa, 6) / 720))
    struct(easting.as("easting"), northing.as("northing"))
  }

  /** Ray-casting point-in-polygon over a ring encoded as
    * array<struct<x:double,y:double>> (closed or open ring both work).
    * Delegates to the native [[graft.plans.PointInPolygonExpr]] (requires
    * [[graft.plans.GraftExtensions]] on the session) — bit-equal to
    * [[pointInPolygonHof]], which runs interpreted per-vertex lambdas.
    */
  def pointInPolygon(px: Column, py: Column, ring: Column): Column =
    call_function("graft_pip", px.cast("double"), py.cast("double"), ring)

  /** Composed-builtin ray-cast (aggregate over vertex pairs) — the
    * reference implementation the native expression is validated against.
    */
  def pointInPolygonHof(px: Column, py: Column, ring: Column): Column = {
    val n = size(ring)
    // edge i: ring[i] -> ring[(i+1) % n]; count crossings of the
    // horizontal ray from (px,py) to +inf
    val crossings = aggregate(
      sequence(lit(0), n - 1), lit(0L),
      (acc, i) => {
        val a = element_at(ring, i + 1)
        val b = element_at(ring, when(i === n - 1, 1).otherwise(i + 2))
        val ax = a.getField("x"); val ay = a.getField("y")
        val bx = b.getField("x"); val by = b.getField("y")
        val straddles = (ay > py) =!= (by > py)
        val xInt = (bx - ax) * (py - ay) / (by - ay) + ax
        acc + when(straddles && px < xInt, 1L).otherwise(0L)
      })
    crossings % 2 === 1
  }
}
