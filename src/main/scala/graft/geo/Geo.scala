package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-expression planar geometry for the raster/vector operators.
  *
  * No JTS/GEOS exists in this environment, so the geometry predicates are
  * generated as Catalyst Column expression trees from driver-side polygon
  * constants: a point-in-polygon test over an N-vertex ring unrolls to N
  * codegen'd edge tests — fully fused, no UDF, and the SAME arithmetic can
  * be emitted as SQL text for the DuckDB oracle (`Geo.pointInPolygonSql`),
  * guaranteeing bit-identical classification.
  *
  * (reference counterpart: rasterio geometry_mask /
  * openeo_processes_dask cubes/mask_polygon.py:27-163 and the xvec/shapely
  * predicates used by aggregate_spatial, cubes/aggregate.py:256-323.)
  */
object Geo {

  /** A closed ring as (x, y) vertices; first vertex need not be repeated. */
  type Ring = Seq[(Double, Double)]

  /** Even-odd ray-casting point-in-polygon as a Column expression.
    * Points exactly on an edge are implementation-defined (as in every
    * even-odd rasterizer) — choose polygons off the data grid when that
    * matters.
    */
  def pointInPolygon(px: Column, py: Column, ring: Ring): Column = {
    val edges = ring.zip(ring.tail :+ ring.head)
    val crossings = edges.map { case ((x1, y1), (x2, y2)) =>
      val straddles = (lit(y1) > py) =!= (lit(y2) > py)
      val xAtY = (lit(x2) - x1) * (py - y1) / (lit(y2) - y1) + x1
      when(straddles && px < xAtY, 1).otherwise(0)
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /** Even-odd test over MULTIPLE rings — covers polygons with holes (outer
    * ring + hole rings: a point inside a hole crosses both boundaries an
    * even number of times) and multipolygons (disjoint outers) with the
    * same crossing-parity arithmetic; mirrors rasterio's geometry_mask
    * semantics (reference: cubes/mask_polygon.py:84-110).
    */
  def pointInPolygonMulti(px: Column, py: Column, rings: Seq[Ring]): Column = {
    require(rings.nonEmpty, "GeometryInvalid: no rings")
    val crossings = rings.flatMap { ring =>
      ring.zip(ring.tail :+ ring.head).map { case ((x1, y1), (x2, y2)) =>
        val straddles = (lit(y1) > py) =!= (lit(y2) > py)
        val xAtY = (lit(x2) - x1) * (py - y1) / (lit(y2) - y1) + x1
        when(straddles && px < xAtY, 1).otherwise(0)
      }
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /** The same predicate as SQL text (DuckDB-compatible), generated from the
    * same constants — the oracle-side twin of [[pointInPolygon]].
    */
  def pointInPolygonSql(px: String, py: String, ring: Ring): String = {
    val edges = ring.zip(ring.tail :+ ring.head)
    val terms = edges.map { case ((x1, y1), (x2, y2)) =>
      s"(CASE WHEN (($y1 > $py) <> ($y2 > $py)) AND " +
        s"($px < ($x2 - $x1) * ($py - $y1) / ($y2 - $y1) + $x1) THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** Envelope of a ring: (west, east, south, north). */
  def envelope(ring: Ring): (Double, Double, Double, Double) =
    (ring.map(_._1).min, ring.map(_._1).max,
      ring.map(_._2).min, ring.map(_._2).max)

  // ---- CRS transforms (public formulas; the reference delegates to pyproj,
  // cubes/_filter.py:284-320) ----

  private val EarthRadius = 6378137.0

  /** EPSG:4326 (lon/lat degrees) → EPSG:3857 (web-mercator meters), as
    * Column expressions — the standard spherical-mercator forward formulas.
    */
  def lonToMercatorX(lon: Column): Column = radians(lon) * EarthRadius
  def latToMercatorY(lat: Column): Column =
    log(tan(lit(math.Pi / 4) + radians(lat) / 2)) * EarthRadius

  /** EPSG:3857 → EPSG:4326 inverse: lat = 2·atan(exp(y/R)) − π/2. */
  def mercatorXToLon(x: Column): Column = degrees(x / EarthRadius)
  def mercatorYToLat(y: Column): Column =
    degrees(atan(exp(y / EarthRadius)) * 2 - lit(math.Pi / 2))

  /** Driver-side scalar twins (for bbox reprojection before filter_bbox,
    * mirroring the reference's driver-side `_reproject_bbox`).
    */
  def lonToMercatorX(lon: Double): Double = math.toRadians(lon) * EarthRadius
  def latToMercatorY(lat: Double): Double =
    math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)) * EarthRadius

  // ---- UTM (WGS84 Transverse Mercator, Snyder 1987 series — the standard
  // published formulas; the reference reaches the same CRS family through
  // pyproj). Zone z covers central meridian (z·6 − 183)°.
  // Accuracy of the truncated series is sub-mm inside a zone. ----

  private val A = 6378137.0 // WGS84 semi-major
  private val F = 1.0 / 298.257223563
  private val E2 = F * (2 - F)
  private val Ep2 = E2 / (1 - E2)
  private val K0 = 0.9996

  def utmCentralMeridian(zone: Int): Double = zone * 6.0 - 183.0

  /** Forward: (lon°, lat°) → (easting, northing) for the given zone; pass
    * `south = true` for EPSG:327xx (adds the 10,000 km false northing).
    */
  def utmForward(lon: Double, lat: Double, zone: Int,
      south: Boolean = false): (Double, Double) =
    tmForward(lon, lat, utmCentralMeridian(zone), K0, 500000.0,
      if (south) 10000000.0 else 0.0)

  /** Inverse: (easting, northing, zone) → (lon°, lat°). */
  def utmInverse(easting: Double, northing: Double, zone: Int,
      south: Boolean = false): (Double, Double) =
    tmInverse(easting, northing, utmCentralMeridian(zone), K0, 500000.0,
      if (south) 10000000.0 else 0.0)

  /** GENERALIZED WGS84 Transverse Mercator (same Snyder 1987 §8 series as
    * UTM) with arbitrary central meridian, scale factor, and false origin —
    * the parameter set that covers most projected EPSG CRSs in use
    * (UTM 326xx/327xx, national TM grids). The reference reaches these
    * through pyproj (cubes/_filter.py:284-320); here the series itself is
    * the implementation, UTM being the (6z−183°, 0.9996, 500 km, 0|10000 km)
    * instance.
    */
  def tmForward(lon: Double, lat: Double, lon0: Double, k0: Double,
      falseEasting: Double, falseNorthing: Double): (Double, Double) = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lon - lon0)
    val sinP = math.sin(phi); val cosP = math.cos(phi); val tanP = math.tan(phi)
    val n = A / math.sqrt(1 - E2 * sinP * sinP)
    val t = tanP * tanP
    val c = Ep2 * cosP * cosP
    val a0 = lam * cosP
    val m = A * ((1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256) * phi
      - (3 * E2 / 8 + 3 * E2 * E2 / 32 + 45 * E2 * E2 * E2 / 1024) * math.sin(2 * phi)
      + (15 * E2 * E2 / 256 + 45 * E2 * E2 * E2 / 1024) * math.sin(4 * phi)
      - (35 * E2 * E2 * E2 / 3072) * math.sin(6 * phi))
    val x = k0 * n * (a0 + (1 - t + c) * a0 * a0 * a0 / 6
      + (5 - 18 * t + t * t + 72 * c - 58 * Ep2) * math.pow(a0, 5) / 120) + falseEasting
    val y0 = k0 * (m + n * tanP * (a0 * a0 / 2
      + (5 - t + 9 * c + 4 * c * c) * math.pow(a0, 4) / 24
      + (61 - 58 * t + t * t + 600 * c - 330 * Ep2) * math.pow(a0, 6) / 720))
    (x, y0 + falseNorthing)
  }

  /** Inverse generalized Transverse Mercator: see [[tmForward]]. */
  def tmInverse(easting: Double, northing: Double, lon0: Double, k0: Double,
      falseEasting: Double, falseNorthing: Double): (Double, Double) = {
    val x = easting - falseEasting
    val y = northing - falseNorthing
    val m = y / k0
    val mu = m / (A * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256))
    val e1 = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
    val phi1 = mu + (3 * e1 / 2 - 27 * e1 * e1 * e1 / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * e1 * e1 * e1 / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val sinP = math.sin(phi1); val cosP = math.cos(phi1); val tanP = math.tan(phi1)
    val c1 = Ep2 * cosP * cosP
    val t1 = tanP * tanP
    val n1 = A / math.sqrt(1 - E2 * sinP * sinP)
    val r1 = A * (1 - E2) / math.pow(1 - E2 * sinP * sinP, 1.5)
    val d = x / (n1 * k0)
    val lat = phi1 - (n1 * tanP / r1) * (d * d / 2
      - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * Ep2) * math.pow(d, 4) / 24
      + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * Ep2 - 3 * c1 * c1)
        * math.pow(d, 6) / 720)
    val lon = (d - (1 + 2 * t1 + c1) * d * d * d / 6
      + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * Ep2 + 24 * t1 * t1)
        * math.pow(d, 5) / 120) / cosP
    (lon0 + math.toDegrees(lon), math.toDegrees(lat))
  }
}
