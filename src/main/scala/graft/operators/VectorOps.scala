package graft.operators

import graft.geo.Geo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VectorCube operators
  * (reference: openeo_processes_dask cubes/geometries.py — load_geojson,
  * vector_buffer, vector_reproject; cubes/_filter.py:241-281 vector
  * filter_bbox).
  *
  * A VectorCube is a DataFrame with a `geometry` column of
  * `array<struct<x:double,y:double>>` (a ring for polygons, a single
  * element for points) plus property columns; the CRS travels in the cube
  * metadata. Geometry math is Column-expression arithmetic over the vertex
  * arrays — engine-portable, codegen-friendly, no geometry library.
  */
object VectorOps {

  val PointType = "array<struct<x:double,y:double>>"

  /** Minimal inline-GeoJSON loader: accepts a FeatureCollection of Point /
    * Polygon (outer ring) features; properties become columns
    * (reference: cubes/geometries.py:24-120). Parsing happens driver-side
    * on the inline document — the reference does the same via geopandas.
    */
  def loadGeoJson(spark: SparkSession, geojson: String,
      properties: Seq[String]): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val root = JsonMethods.parse(geojson)
    val features = (root \ "features").extract[List[JValue]]
    val rows = features.zipWithIndex.map { case (f, i) =>
      val geomType = (f \ "geometry" \ "type").extract[String]
      val coords = geomType match {
        case "Point" =>
          val c = (f \ "geometry" \ "coordinates").extract[List[Double]]
          Seq((c(0), c(1)))
        case "Polygon" =>
          (f \ "geometry" \ "coordinates").extract[List[List[List[Double]]]]
            .head.map(c => (c(0), c(1)))
        case t => throw new IllegalArgumentException(s"unsupported geometry: $t")
      }
      val props = properties.map(p =>
        (f \ "properties" \ p) match {
          case JNothing | JNull => null
          case v: JString => v.s
          case v => JsonMethods.compact(JsonMethods.render(v))
        })
      (i.toLong, geomType, coords, props)
    }
    import spark.implicits._
    val base = rows.map { case (i, t, cs, ps) => (i, t, cs) }
      .toDF("geom_id", "geom_type", "_coords")
      .withColumn("geometry",
        expr("transform(_coords, c -> struct(c._1 as x, c._2 as y))"))
      .drop("_coords")
    properties.zipWithIndex.foldLeft(base) { case (df, (p, idx)) =>
      val vals = rows.map { case (i, _, _, ps) => (i, ps(idx)) }.toDF("geom_id", p)
      df.join(vals, "geom_id")
    }
  }

  /** load_vector_cube: GeoJSON from a URL/filename or an inline document
    * (reference: cubes/experimental.py:18-72 — exactly one source must be
    * given). URL/file fetch goes through [[graft.sources.UrlLoader]].
    */
  def loadVectorCube(spark: SparkSession, url: Option[String] = None,
      filename: Option[String] = None, geometries: Option[String] = None,
      properties: Seq[String] = Nil): DataFrame = {
    val sources = Seq(url, filename, geometries).flatten
    require(sources.size == 1,
      "load_vector_cube: provide exactly one of URL, filename, geometries")
    (url, filename) match {
      case (Some(u), _) =>
        graft.sources.UrlLoader.loadUrl(spark, u, "GeoJSON", properties)
      case (_, Some(f)) =>
        graft.sources.UrlLoader.loadUrl(spark,
          java.nio.file.Paths.get(f).toUri.toString, "GeoJSON", properties)
      case _ => loadGeoJson(spark, geometries.get, properties)
    }
  }

  /** vector_buffer for point geometries: Minkowski buffer approximated by a
    * regular `segments`-gon around each point
    * (reference: cubes/geometries.py:123-146 — errors on geographic CRS are
    * the caller's CRS-metadata check). Pure expression: the circle offsets
    * are plan-time constants.
    */
  def bufferPoints(df: DataFrame, geomCol: String, distance: Double,
      segments: Int = 16): DataFrame = {
    val offsets = (0 until segments).map { k =>
      val a = 2 * math.Pi * k / segments
      (distance * math.cos(a), distance * math.sin(a))
    }
    val px = element_at(col(geomCol), 1).getField("x")
    val py = element_at(col(geomCol), 1).getField("y")
    val ring = array(offsets.map { case (dx, dy) =>
      struct((px + dx).as("x"), (py + dy).as("y"))
    }: _*)
    df.withColumn(geomCol, ring)
  }

  /** openEO `vector_to_regular_points` (spec proposal; beyond the
    * reference's exports): sample each polygon with a regular grid of
    * points spaced `distance` apart, anchored at the polygon's bbox
    * minimum corner; point geometries pass through unchanged (a point is
    * its own sample). Everything is per-row Column arithmetic — bbox from
    * array_min/max over the ring, grid axes from `sequence`, containment
    * from the same ray-cast predicate the raster maskers use — so a
    * 100M-polygon table fans out executor-side with no driver geometry
    * loop and no shuffle at all (the fan-out is a generator on the scan).
    * Output rows are single-point geometries with the source `geom_id`
    * preserved and a per-polygon `point_id` (grid index i·(ny+1)+j).
    */
  def vectorToRegularPoints(df: DataFrame, geomCol: String,
      distance: Double): DataFrame = {
    require(distance > 0, s"vector_to_regular_points: distance $distance")
    val clash = Seq("_i", "_j", "_px", "_py", "point_id")
      .filter(df.columns.contains)
    require(clash.isEmpty, "vector_to_regular_points: input columns " +
      s"${clash.mkString(",")} collide with internal/output names")
    val others = df.columns.toSeq.filterNot(c =>
      c == geomCol || c == "geom_type")
    val outCols = (others.map(col) :+ col("geom_type")) :+ col(geomCol)

    val points = df.filter(col("geom_type") === "Point")
      .withColumn("point_id", lit(0L))
      .select(outCols :+ col("point_id"): _*)

    val g = col(geomCol)
    val xs = transform(g, p => p.getField("x"))
    val ys = transform(g, p => p.getField("y"))
    val (x0, x1) = (array_min(xs), array_max(xs))
    val (y0, y1) = (array_min(ys), array_max(ys))
    val nx = floor((x1 - x0) / distance).cast("long")
    val ny = floor((y1 - y0) / distance).cast("long")
    val polys = df.filter(col("geom_type") === "Polygon")
      .withColumn("_i", explode(sequence(lit(0L), nx)))
      .withColumn("_j", explode(sequence(lit(0L), ny)))
      .withColumn("_px", x0 + col("_i") * distance)
      .withColumn("_py", y0 + col("_j") * distance)
      .filter(SpatialOps.pointInRing(col("_px"), col("_py"), g))
      .withColumn("point_id", col("_i") * (ny + 1) + col("_j"))
      .withColumn(geomCol,
        array(struct(col("_px").as("x"), col("_py").as("y"))))
      .withColumn("geom_type", lit("Point"))
      .select(outCols :+ col("point_id"): _*)

    points.unionByName(polys)
  }

  /** vector_to_random_points (openEO spec proposal): up to `count` seeded
    * pseudo-random sample points inside each polygon; point features pass
    * through. Rejection sampling with a FIXED candidate budget
    * (`count × oversample` bbox-uniform candidates per polygon, accepted
    * in candidate order until `count`) so the result is a pure function of
    * `(idCol, seed)` — deterministic across partitionings, re-runs, and
    * engines. Coordinates derive from md5 (the library's portable-hash
    * convention, [[graft.pipeline.Sampling.hashBucket]]): 16 hash bits per
    * axis per candidate, scaled into the polygon's bbox with the same
    * double arithmetic the DuckDB oracle mirrors.
    *
    * The whole sample is array arithmetic ON the scan — candidate
    * generation, ray-cast acceptance, and the take-`count` truncation run
    * inside `transform`/`filter`/`slice` with ZERO shuffles and no driver
    * geometry loop, so a 100M-polygon table samples in one embarrassingly
    * parallel pass. A polygon whose acceptance never reaches `count`
    * (thin sliver vs its bbox) yields the points it has, like the
    * proposal's "fewer if not enough".
    */
  def vectorToRandomPoints(df: DataFrame, geomCol: String, count: Int,
      oversample: Int = 8, seed: String = "rp",
      idCol: String = "geom_id"): DataFrame = {
    require(count > 0, s"vector_to_random_points: count $count")
    require(oversample > 0, s"vector_to_random_points: oversample $oversample")
    val clash = Seq("_taken", "_pos", "_p", "point_id")
      .filter(df.columns.contains)
    require(clash.isEmpty, "vector_to_random_points: input columns " +
      s"${clash.mkString(",")} collide with internal/output names")
    val others = df.columns.toSeq.filterNot(c =>
      c == geomCol || c == "geom_type")
    val outCols = (others.map(col) :+ col("geom_type")) :+ col(geomCol)

    val points = df.filter(col("geom_type") === "Point")
      .withColumn("point_id", lit(0L))
      .select(outCols :+ col("point_id"): _*)

    val g = col(geomCol)
    val xs = transform(g, p => p.getField("x"))
    val ys = transform(g, p => p.getField("y"))
    val (x0, x1) = (array_min(xs), array_max(xs))
    val (y0, y1) = (array_min(ys), array_max(ys))
    def h16(k: Column, axis: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        k.cast("string"), lit(s":$axis:$seed"))), 1, 4), 16, 10).cast("long")
    val m = count.toLong * oversample
    val cand = transform(sequence(lit(0L), lit(m - 1)), k => struct(
      (x0 + (h16(k, "x").cast("double") / lit(65536.0)) * (x1 - x0)).as("x"),
      (y0 + (h16(k, "y").cast("double") / lit(65536.0)) * (y1 - y0)).as("y")))
    val taken = slice(filter(cand, p =>
      SpatialOps.pointInRing(p.getField("x"), p.getField("y"), g)), 1, count)
    val polys = df.filter(col("geom_type") === "Polygon")
      .withColumn("_taken", taken)
      .select(others.map(col) :+
        posexplode(col("_taken")).as(Seq("_pos", "_p")): _*)
      .withColumn("point_id", col("_pos").cast("long"))
      .withColumn(geomCol, array(struct(col("_p.x").as("x"),
        col("_p.y").as("y"))))
      .withColumn("geom_type", lit("Point"))
      .select(outCols :+ col("point_id"): _*)

    points.unionByName(polys)
  }

  /** vector_reproject EPSG:4326 → EPSG:326xx/327xx (UTM zone) over every
    * vertex — the Snyder series in [[Geo.utmForward]] as a deterministic
    * scalar UDF (the transcendental series is too large to unroll as a
    * Column tree; the reference reaches the same CRS through pyproj).
    */
  def reprojectToUtm(df: DataFrame, geomCol: String, zone: Int,
      south: Boolean = false): DataFrame = {
    val fn = udf((pts: Seq[org.apache.spark.sql.Row]) =>
      pts.map { p =>
        val (x, y) = Geo.utmForward(p.getDouble(0), p.getDouble(1), zone, south)
        (x, y)
      })
    df.withColumn(geomCol, transform(fn(col(geomCol)), p =>
      struct(p.getField("_1").as("x"), p.getField("_2").as("y"))))
  }

  /** vector_reproject between ARBITRARY registry CRSs
    * (reference: cubes/geometries.py:149-170 reprojects through pyproj's
    * any-to-any transformer): every vertex routes through
    * [[graft.geo.Crs.transform]] — 4326/3857/any Transverse-Mercator EPSG
    * or proj-string. Per-vertex scalar UDF over the geometry array; same
    * shape contract as the fixed-target variants above.
    */
  def reprojectVector(df: DataFrame, geomCol: String,
      fromCrs: String, toCrs: String): DataFrame = {
    import graft.geo.Crs
    val from = Crs.parse(fromCrs)
    val to = Crs.parse(toCrs)
    if (from == to) return df
    val fn = udf((pts: Seq[org.apache.spark.sql.Row]) =>
      pts.map { p =>
        val (x, y) = Crs.transform(from, to, p.getDouble(0), p.getDouble(1))
        (x, y)
      })
    df.withColumn(geomCol, transform(fn(col(geomCol)), p =>
      struct(p.getField("_1").as("x"), p.getField("_2").as("y"))))
  }

  /** Vector filter_bbox: keep non-empty geometries whose envelope
    * intersects the bbox (reference: cubes/_filter.py:241-281).
    */
  /** Even-odd point-in-ring against a DATA-SIDE ring column (the constant
    * form lives in [[graft.geo.Geo.pointInPolygon]]). Rings are stored
    * CLOSED (GeoJSON keeps the repeated last vertex), so consecutive
    * pairs cover every edge without a wraparound; degenerate edges
    * (equal y) contribute zero crossings by the straddle guard.
    */
  /** Edge-index domain [1, size-1] that is empty (not clamped-to-1) for
    * degenerate rings, so `element_at(ring, i+1)` can never index out of
    * bounds under ANSI mode no matter how the optimizer reorders the
    * surrounding conjuncts — correctness must not hinge on `&&`
    * short-circuit evaluation order.
    */
  private def edgeIdxs(ring: Column): Column =
    when(size(ring) >= 2, sequence(lit(1), size(ring) - 1))
      .otherwise(array().cast("array<int>"))

  private def pointInRingCol(px: Column, py: Column, ring: Column): Column = {
    val crossings = aggregate(
      edgeIdxs(ring), lit(0),
      (acc, i) => {
        val a = element_at(ring, i)
        val b = element_at(ring, i + 1)
        val (ax, ay) = (a.getField("x"), a.getField("y"))
        val (bx, by) = (b.getField("x"), b.getField("y"))
        val straddles = (ay > py) =!= (by > py)
        val xAtY = (bx - ax) * (py - ay) / (by - ay) + ax
        acc + when(straddles && px < xAtY, 1).otherwise(0)
      })
    size(ring) >= 3 && crossings % 2 === 1
  }

  /** openEO `filter_vector` proposal: keep geometries that INTERSECT the
    * filter polygon — CLOSED-set semantics, matching a JTS/GEOS
    * `intersects` (the proposal says "intersect", and boundary contact
    * counts). The test is a five-case decomposition, all as Column
    * arithmetic on the scan (zero shuffles, no geometry library, no
    * driver loop):
    *
    *   1. any geometry vertex inside the filter ring (covers points and
    *      "geometry inside filter");
    *   2. any filter vertex inside the geometry ring ("filter inside
    *      geometry" — a row polygon enclosing the whole filter);
    *   3. any geometry edge PROPERLY crossing any filter edge (overlap
    *      with no contained vertices);
    *   4. any geometry vertex ON a filter edge (orientation exactly 0 +
    *      bbox containment — shared vertices, points on the boundary);
    *   5. any filter vertex ON a geometry edge (the symmetric touch).
    *
    * Cases 4+5 make boundary contact closed: two collinear segments that
    * overlap in more than a point always contain an endpoint of one
    * within the other, so vertex-on-edge tests cover every collinear-
    * overlap and vertex-touch configuration. Interior containment (1, 2)
    * stays even-odd, consistent with the maskers.
    */
  def filterVector(df: DataFrame, geomCol: String,
      filterRing: graft.geo.Geo.Ring): DataFrame = {
    require(filterRing.size >= 3,
      s"GeometryInvalid: filter ring needs >= 3 vertices (${filterRing.size})")
    val g = col(geomCol)
    // (1) any data vertex inside the (constant) filter ring
    val vertexInFilter = exists(g, v =>
      graft.geo.Geo.pointInPolygon(v.getField("x"), v.getField("y"),
        filterRing))
    // (2) any (constant) filter vertex inside the data ring
    val filterVertexInG = filterRing.map { case (fx, fy) =>
      pointInRingCol(lit(fx), lit(fy), g)
    }.reduce(_ || _)
    // (3) any data edge properly crossing any (constant) filter edge:
    // orient(p,q,r) sign products strictly negative on both sides
    val fEdges = filterRing.zip(filterRing.tail :+ filterRing.head)
    def orientC(px: Column, py: Column, qx: Column, qy: Column,
        rx: Column, ry: Column): Column =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val edgeCross = exists(edgeIdxs(g),
      i => {
        val a = element_at(g, i)
        val b = element_at(g, i + 1)
        val (ax, ay) = (a.getField("x"), a.getField("y"))
        val (bx, by) = (b.getField("x"), b.getField("y"))
        fEdges.map { case ((cx, cy), (dx, dy)) =>
          val o1 = orientC(lit(cx), lit(cy), lit(dx), lit(dy), ax, ay)
          val o2 = orientC(lit(cx), lit(cy), lit(dx), lit(dy), bx, by)
          val o3 = orientC(ax, ay, bx, by, lit(cx), lit(cy))
          val o4 = orientC(ax, ay, bx, by, lit(dx), lit(dy))
          o1 * o2 < 0 && o3 * o4 < 0
        }.reduce(_ || _)
      })
    // (4) any data vertex ON a (constant) filter edge: collinear
    // (orientation exactly 0) and inside the edge's bbox — the bbox
    // bounds are Scala-side constants
    val vertexOnFilterEdge = exists(g, v => {
      val (vx, vy) = (v.getField("x"), v.getField("y"))
      fEdges.map { case ((cx, cy), (dx, dy)) =>
        orientC(lit(cx), lit(cy), lit(dx), lit(dy), vx, vy) === 0 &&
          vx >= lit(math.min(cx, dx)) && vx <= lit(math.max(cx, dx)) &&
          vy >= lit(math.min(cy, dy)) && vy <= lit(math.max(cy, dy))
      }.reduce(_ || _)
    })
    // (5) any (constant) filter vertex ON a data edge
    val filterVertexOnEdge = exists(edgeIdxs(g), i => {
      val a = element_at(g, i)
      val b = element_at(g, i + 1)
      val (ax, ay) = (a.getField("x"), a.getField("y"))
      val (bx, by) = (b.getField("x"), b.getField("y"))
      filterRing.map { case (fx, fy) =>
        orientC(ax, ay, bx, by, lit(fx), lit(fy)) === 0 &&
          lit(fx) >= least(ax, bx) && lit(fx) <= greatest(ax, bx) &&
          lit(fy) >= least(ay, by) && lit(fy) <= greatest(ay, by)
      }.reduce(_ || _)
    })
    df.filter(size(g) > 0 &&
      (vertexInFilter || filterVertexInG || vertexOnFilterEdge ||
        filterVertexOnEdge || edgeCross))
  }

  def filterBboxVector(df: DataFrame, geomCol: String, west: Double,
      east: Double, south: Double, north: Double): DataFrame = {
    val xs = transform(col(geomCol), _.getField("x"))
    val ys = transform(col(geomCol), _.getField("y"))
    df.filter(size(col(geomCol)) > 0 &&
      array_max(xs) >= west && array_min(xs) <= east &&
      array_max(ys) >= south && array_min(ys) <= north)
  }
}
