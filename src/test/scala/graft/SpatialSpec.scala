package graft

import graft.core._
import graft.functions.Reducers
import graft.geo.Geo
import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpatialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  val unitSquare: Geo.Ring = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))

  def grid: DataCube = {
    val df = (for { x <- 0 until 20; y <- 0 until 20 }
      yield (x + 0.5, y + 0.5, 1.0)).toDF("x", "y", "value")
    DataCube.fromTable(df, Seq("x", "y"), "value")
  }

  test("pointInPolygon classifies inside/outside for a square") {
    val pts = Seq((5.0, 5.0, true), (15.0, 5.0, false), (-1.0, 3.0, false),
      (9.9, 9.9, true)).toDF("px", "py", "expected")
    val got = pts.withColumn("in", Geo.pointInPolygon(col("px"), col("py"), unitSquare))
    assert(got.filter(col("in") =!= col("expected")).count() == 0)
  }

  test("mask_polygon nulls outside; filter_spatial drops outside") {
    val masked = SpatialOps.maskPolygon(grid, unitSquare)
    assert(masked.df.filter(col("value").isNotNull).count() == 100)
    assert(masked.df.count() == 400)
    val filtered = SpatialOps.filterSpatial(grid, unitSquare)
    assert(filtered.df.count() == 100)
  }

  test("aggregate_spatial counts cells per overlapping zone") {
    val zones = Seq("sq" -> unitSquare,
      "all" -> Seq((-1.0, -1.0), (21.0, -1.0), (21.0, 21.0), (-1.0, 21.0)))
    val out = SpatialOps.aggregateSpatial(grid, zones, v => Reducers.sumR(v))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("sq" -> 100.0, "all" -> 400.0))
  }

  test("aggregateSpatialMany matches the unioned-scan form on a zone table") {
    val zoneRows = Seq(
      ("sq", unitSquare.map { case (x, y) => (x, y) }),
      ("all", Seq((-1.0, -1.0), (21.0, -1.0), (21.0, 21.0), (-1.0, 21.0))))
    val zones = zoneRows.toDF("zone_id", "_pts")
      .withColumn("geometry",
        expr("transform(_pts, p -> struct(p._1 as x, p._2 as y))"))
      .drop("_pts")
    val got = SpatialOps.aggregateSpatialMany(grid, zones, "zone_id", "geometry",
      v => Reducers.sumR(v))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("sq" -> 100.0, "all" -> 400.0))
  }

  test("resample_cube_spatial bilinear interpolates on the target cube grid") {
    val src = DataCube.fromTable(
      Seq((0.0, 0.0, 10.0), (0.0, 4.0, 20.0), (2.0, 0.0, 30.0), (2.0, 4.0, 40.0))
        .toDF("x", "y", "value"), Seq("x", "y"), "value")
    val tgt = DataCube.fromTable(
      Seq((1.0, 1.0, 0.0), (0.0, 0.0, 0.0), (-1.0, 0.0, 0.0))
        .toDF("x", "y", "value"), Seq("x", "y"), "value")
    val out = ResampleOps.resampleCubeSpatialBilinear(src, tgt)
    val got = out.df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got((1.0, 1.0)) == 22.5)   // full 2-D blend
    assert(got((0.0, 0.0)) == 10.0)   // exact grid point
    assert(got((-1.0, 0.0)) == 10.0)  // clamped edge target
  }

  test("resample_cube_spatial near maps to nearest target coords") {
    val c = DataCube.fromTable(
      Seq((1.0, 1.0, 10.0), (4.0, 1.0, 20.0), (6.0, 1.0, 30.0))
        .toDF("x", "y", "value"), Seq("x", "y"), "value")
    val r = SpatialOps.resampleCubeSpatialNear(c, Seq(0.0, 5.0), Seq(1.0),
      v => Reducers.sumR(v))
    val got = r.df.collect().map(row => row.getDouble(0) -> row.getDouble(2)).toMap
    assert(got == Map(0.0 -> 10.0, 5.0 -> 50.0)) // 4.0 and 6.0 both → 5.0
  }

  test("mercator round-trips") {
    val df = Seq((12.5, 47.3)).toDF("lon", "lat")
    val back = df.select(
      ReferenceForms.mercatorXToLon(Geo.lonToMercatorX(col("lon"))).as("lon2"),
      ReferenceForms.mercatorYToLat(Geo.latToMercatorY(col("lat"))).as("lat2"))
      .collect()(0)
    assert(math.abs(back.getDouble(0) - 12.5) < 1e-9)
    assert(math.abs(back.getDouble(1) - 47.3) < 1e-9)
  }

  test("vector ops: geojson load, point buffer, bbox filter") {
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,1.0]},
       "properties":{"class":"p"}},
      {"type":"Feature","geometry":{"type":"Polygon","coordinates":
        [[[50.0,50.0],[60.0,50.0],[60.0,60.0],[50.0,60.0],[50.0,50.0]]]},
       "properties":{"class":"far"}}]}"""
    val vc = VectorOps.loadGeoJson(spark, gj, Seq("class"))
    assert(vc.count() == 2)
    val buffered = VectorOps.bufferPoints(
      vc.filter(col("geom_type") === "Point"), "geometry", 2.0, segments = 8)
    assert(buffered.select(size(col("geometry"))).collect()(0).getInt(0) == 8)
    val kept = VectorOps.filterBboxVector(vc, "geometry", 0.0, 10.0, 0.0, 10.0)
    assert(kept.collect().map(_.getAs[String]("class")).toSeq == Seq("p"))
  }

  test("UTM forward/inverse: central meridian maps to 500km easting, round-trips") {
    import graft.geo.Geo
    // zone 32 central meridian is 9°E: easting is the false easting exactly
    val (e0, n0) = ReferenceForms.utmForward(9.0, 48.0, 32)
    assert(math.abs(e0 - 500000.0) < 1e-6)
    assert(n0 > 5000000 && n0 < 5600000) // ~48°N northing magnitude
    // round-trip accuracy inside the zone: ~1e-8 degrees ≈ 1 mm
    for ((lon, lat) <- Seq((7.5, 51.2), (10.9, 44.11), (9.0, 0.0), (11.99, 63.4))) {
      val (e, n) = ReferenceForms.utmForward(lon, lat, 32)
      val (lon2, lat2) = ReferenceForms.utmInverse(e, n, 32)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8)
    }
    // southern hemisphere false northing
    val (_, ns) = ReferenceForms.utmForward(9.0, -10.0, 32, south = true)
    assert(ns > 8000000.0 && ns < 10000000.0)
    // vertex-wise reprojection keeps the (x, y) struct shape
    val gj2 = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[9.0,48.0]},
       "properties":{}}]}"""
    val vdf = VectorOps.loadGeoJson(spark, gj2, Nil)
    val utm = VectorOps.reprojectVector(vdf, "geometry", "EPSG:4326",
      "EPSG:32632")
    val p = utm.select(col("geometry")(0)).collect()(0).getStruct(0)
    assert(math.abs(p.getDouble(0) - 500000.0) < 1e-6)
  }

  test("reprojectVector routes any registry CRS pair; inspect levels work") {
    import graft.geo.Geo
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[9.0,48.0]},
       "properties":{}}]}"""
    val vdf = VectorOps.loadGeoJson(spark, gj, Nil)
    // 4326 → Gauss-Krüger-style tmerc proj string
    val gk = VectorOps.reprojectVector(vdf, "geometry",
      "EPSG:4326", "+proj=tmerc +lon_0=9 +k=1 +x_0=3500000 +y_0=0")
    val p = gk.select(col("geometry")(0)).collect()(0).getStruct(0)
    assert(math.abs(p.getDouble(0) - 3500000.0) < 1e-6)
    // UTM-to-UTM via the lon/lat hub: zone 32 → zone 33 round-trips
    val (e32, n32) = ReferenceForms.utmForward(11.9, 47.5, 32)
    val utmDf = Seq((Seq((e32, n32)), 1L)).toDF("pts", "id")
      .withColumn("geometry",
        expr("transform(pts, q -> struct(q._1 as x, q._2 as y))"))
    val z33 = VectorOps.reprojectVector(utmDf, "geometry",
      "EPSG:32632", "EPSG:32633")
    val q = z33.select(col("geometry")(0)).collect()(0).getStruct(0)
    val (e33, n33) = ReferenceForms.utmForward(11.9, 47.5, 33)
    assert(math.abs(q.getDouble(0) - e33) < 1e-3 && math.abs(q.getDouble(1) - n33) < 1e-3)
    // same-CRS reproject is the identity
    assert(VectorOps.reprojectVector(vdf, "geometry",
      "EPSG:4326", "WGS84") eq vdf)
    // inspect: pass-through at every level, raises on junk
    val c = DataCube.fromTable(
      Seq((1.0, 2.0)).toDF("x", "value"), Seq("x"), "value")
    for (lvl <- Seq("info", "WARNING", "error", "debug"))
      assert(graft.sources.CubeIO.inspect(c, "m", level = lvl) eq c)
    intercept[IllegalArgumentException] {
      graft.sources.CubeIO.inspect(c, level = "verbose")
    }
  }

  test("applyNeighborhood2D: 3x3 tiles partition the grid; sums check out") {
    val df = (for { x <- 0 to 4; y <- 0 to 4 }
      yield (x.toDouble, y.toDouble, 1.0)).toDF("x", "y", "value")
    val c = DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
    // size 3, no overlap → stride 3: centers {0,3}²; window [c-1, c+1]
    val out = WindowOps.applyNeighborhood2D(c, 3, 3, v => Reducers.sumR(v))
    val m = out.df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m == Map((0L, 0L) -> 4.0, (0L, 3L) -> 6.0,
      (3L, 0L) -> 6.0, (3L, 3L) -> 9.0))
    assert(m.values.sum == 25.0) // stride = size → every cell in exactly one window
  }

  test("Crs registry: parse, arbitrary-TM round-trip, warp bookkeeping") {
    import graft.geo.{Crs, Geo}
    // EPSG parsing covers the UTM families and the geographic/mercator hubs
    assert(Crs.parse("EPSG:4326") == Crs.LonLat)
    assert(Crs.parse("EPSG:3857") == Crs.WebMercator)
    assert(Crs.parse("EPSG:32633") ==
      Crs.TransverseMercator(15.0, 0.9996, 500000.0, 0.0))
    assert(Crs.parse("EPSG:32733") ==
      Crs.TransverseMercator(15.0, 0.9996, 500000.0, 10000000.0))
    // proj-style tmerc: Gauss-Krüger zone 3 (lon_0=9, k=1, x_0=3.5e6)
    val gk3 = Crs.parse("+proj=tmerc +lon_0=9 +k=1 +x_0=3500000 +y_0=0")
    assert(gk3 == Crs.TransverseMercator(9.0, 1.0, 3500000.0, 0.0))
    intercept[IllegalArgumentException] { Crs.parse("EPSG:2154") }
    // arbitrary central meridian / scale / false origin round-trips
    for {
      crs <- Seq(gk3, Crs.TransverseMercator(147.0, 0.9996, 500000.0, 10000000.0))
      (lon0, _, _, _) = (crs.asInstanceOf[Crs.TransverseMercator].lon0, 0, 0, 0)
      (dl, lat) <- Seq((-2.5, 52.1), (0.0, 0.25), (1.75, -33.5), (2.9, 68.0))
    } {
      val (x, y) = Crs.fromLonLat(crs, lon0 + dl, lat)
      val (lon2, lat2) = Crs.toLonLat(crs, x, y)
      assert(math.abs(lon2 - (lon0 + dl)) < 1e-8 && math.abs(lat2 - lat) < 1e-8)
    }
    // GK easting at the central meridian is the 3.5e6 false easting exactly
    assert(math.abs(Crs.fromLonLat(gk3, 9.0, 50.0)._1 - 3500000.0) < 1e-6)
    // generalized series reproduces UTM bit-for-bit
    assert(Geo.tmForward(11.3, 47.2, 9.0, 0.9996, 500000.0, 0.0) ==
      ReferenceForms.utmForward(11.3, 47.2, 32))
    // warpCube: coordinates transform per row, CRS metadata follows
    val df = Seq((12.5, 45.25, 1.0), (15.0, 0.0, 2.0)).toDF("x", "y", "value")
    val c = DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial),
      crs = Some("EPSG:4326"))
    val w = ResampleOps.warpCube(c, "EPSG:32633")
    assert(w.meta.crs.contains("EPSG:32633"))
    val rows = w.df.orderBy(col("value")).collect()
    val (e1, n1) = ReferenceForms.utmForward(12.5, 45.25, 33)
    assert(rows(0).getDouble(0) == e1 && rows(0).getDouble(1) == n1)
    assert(math.abs(rows(1).getDouble(0) - 500000.0) < 1e-6)
    // warp to the same CRS is the identity (no-op, no UDF in the plan)
    assert(ResampleOps.warpCube(c, "EPSG:4326").df eq c.df)
  }

  test("vectorToRandomPoints: rejection, interior-only, under-fill, no shuffle") {
    // triangle = half its 6x6 bbox: with oversample=1 the fixed candidate
    // budget genuinely under-fills (≈ half of 50 accepted), every accepted
    // point must satisfy the SAME ray-cast the plan uses, and the whole
    // sample is array arithmetic on the scan — zero exchanges
    val tri = Seq((0.0, 0.0), (6.0, 0.0), (0.0, 6.0), (0.0, 0.0))
    val df = Seq((1L, "Polygon", tri)).toDF("geom_id", "geom_type", "_g")
      .withColumn("geometry", org.apache.spark.sql.functions.transform(
        col("_g"), p => struct(p.getField("_1").as("x"),
          p.getField("_2").as("y")))).drop("_g")
    val out = graft.operators.VectorOps.vectorToRandomPoints(
      df, "geometry", count = 50, oversample = 1, seed = "sv")
    val pts = out.select(col("point_id"),
        element_at(col("geometry"), 1).getField("x"),
        element_at(col("geometry"), 1).getField("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pts.nonEmpty && pts.length < 50, s"got ${pts.length}")
    // host-side replication of SpatialOps.pointInRing's crossing parity
    def inside(px: Double, py: Double): Boolean = {
      val n = tri.length
      val crossings = (0 until n).count { i =>
        val (ax, ay) = tri(i); val (bx, by) = tri((i + 1) % n)
        val straddles = (ay > py) != (by > py)
        straddles && px < (bx - ax) * (py - ay) / (by - ay) + ax
      }
      crossings % 2 == 1
    }
    pts.foreach { case (_, x, y) => assert(inside(x, y), s"($x, $y)") }
    // point_ids are the accepted-candidate order, dense from 0
    assert(pts.map(_._1).sorted.toSeq == (0L until pts.length.toLong))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in plan:\n$plan")
  }

  test("filterVector: the three intersection cases, disjoint drop, points") {
    def ring(vs: (Double, Double)*): Seq[(Double, Double)] = vs.toSeq
    // stored rings are CLOSED (GeoJSON convention)
    val rows = Seq(
      // 0: point inside the filter square (case 1)
      (0L, ring((1.0, 1.0))),
      // 1: point outside
      (1L, ring((9.0, 9.0))),
      // 2: polygon fully containing the filter (case 2 only: no vertex of
      //    the geometry is inside the filter, no edges cross)
      (2L, ring((-10.0, -10.0), (10.0, -10.0), (10.0, 10.0),
        (-10.0, 10.0), (-10.0, -10.0))),
      // 3: thin horizontal sliver crossing the filter left-to-right —
      //    NO vertex of either polygon inside the other (case 3 only)
      (3L, ring((-5.0, 0.9), (5.0, 0.9), (5.0, 1.1), (-5.0, 1.1),
        (-5.0, 0.9))),
      // 4: disjoint polygon
      (4L, ring((20.0, 20.0), (22.0, 20.0), (22.0, 22.0), (20.0, 22.0),
        (20.0, 20.0))),
      // 5: geometry fully inside the filter (case 1)
      (5L, ring((0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5), (0.5, 0.5)))
    )
    val df = rows.map { case (id, g) =>
      (id, g.map { case (x, y) => (x, y) })
    }.toDF("geom_id", "_raw")
      .select(col("geom_id"), expr(
        "transform(_raw, p -> named_struct('x', p._1, 'y', p._2))")
        .as("geometry"))
    // filter polygon: unit-ish square (0,0)-(2,2), OPEN ring (no closing
    // vertex — the constant form wraps)
    val filter = Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))
    val kept = VectorOps.filterVector(df, "geometry", filter)
      .select(col("geom_id")).as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 5L))
    // degenerate filter refused
    intercept[IllegalArgumentException] {
      VectorOps.filterVector(df, "geometry", Seq((0.0, 0.0), (1.0, 1.0)))
    }
  }

  test("filterVector: boundary contact is CLOSED (JTS intersects semantics)") {
    def ring(vs: (Double, Double)*): Seq[(Double, Double)] = vs.toSeq
    val rows = Seq(
      // 0: shares ONLY the edge segment x=2, y in [0,2] with the filter —
      //    no vertex strictly inside either, no proper crossing (case 4/5)
      (0L, ring((2.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 0.0))),
      // 1: touches ONLY at the single shared vertex (2,2)
      (1L, ring((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0))),
      // 2: collinear PARTIAL edge overlap along y=0, x in [1,3] — the
      //    data edge's endpoint (1,0) lies interior to the filter edge
      (2L, ring((1.0, 0.0), (3.0, 0.0), (3.0, -2.0), (1.0, -2.0),
        (1.0, 0.0))),
      // 3: a POINT exactly on the filter boundary
      (3L, ring((0.0, 1.0))),
      // 4: near-touch control — 1e-9 off the boundary, must DROP
      (4L, ring((2.000000001, 0.0), (4.0, 0.0), (4.0, 2.0),
        (2.000000001, 2.0), (2.000000001, 0.0)))
    )
    val df = rows.toDF("geom_id", "_raw")
      .select(col("geom_id"), expr(
        "transform(_raw, p -> named_struct('x', p._1, 'y', p._2))")
        .as("geometry"))
    val filter = Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))
    val kept = VectorOps.filterVector(df, "geometry", filter)
      .select(col("geom_id")).as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L))
  }
}
