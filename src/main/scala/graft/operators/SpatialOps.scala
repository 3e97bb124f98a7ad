package graft.operators

import graft.core._
import graft.geo.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Polygon-based raster operators
  * (reference: openeo_processes_dask cubes/mask_polygon.py:27-163,
  * cubes/_filter.py:152-168, cubes/aggregate.py:256-323,
  * cubes/apply.py:185-219, cubes/resample.py:116-180).
  *
  * Geometry predicates are unrolled Column expressions (see [[Geo]]), so
  * every operator here is a scan + filter/aggregate with whole-stage
  * codegen — the polygon never leaves the plan, and no row leaves the
  * executors.
  */
object SpatialOps {

  private def xy(cube: DataCube): (String, String) = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y spatial dims")
    (sd.head, sd(1))
  }

  /** mask_polygon: replace cells outside (default) or inside the polygon
    * (reference: cubes/mask_polygon.py:27-163; `inside=true` keeps inside).
    */
  def maskPolygon(cube: DataCube, ring: Geo.Ring,
      replacement: Column = lit(null), inside: Boolean = true): DataCube = {
    val (xd, yd) = xy(cube)
    val in = Geo.pointInPolygon(col(xd), col(yd), ring)
    val keep = if (inside) in else !in
    cube.withDf(_.withColumn(cube.meta.valueCol,
      when(keep, cube.value).otherwise(replacement)))
  }

  /** filter_spatial: crop to the polygon's bbox, then polygon-mask — rows
    * outside are dropped entirely (reference: cubes/_filter.py:152-168).
    * The bbox pre-filter is what reaches the parquet scan as a pushed
    * predicate; the polygon test refines the survivors.
    */
  def filterSpatial(cube: DataCube, ring: Geo.Ring): DataCube = {
    val (xd, yd) = xy(cube)
    val (w, e, s, n) = Geo.envelope(ring)
    val boxed = FilterOps.filterBbox(cube, w, e, s, n)
    boxed.withDf(_.filter(Geo.pointInPolygon(col(xd), col(yd), ring)))
  }

  /** apply_polygon: apply a scalar process only to cells inside the polygon,
    * leaving the rest untouched (reference: cubes/apply.py:185-219's
    * mask→apply→merge composite collapses to a single `when`).
    */
  def applyPolygon(cube: DataCube, ring: Geo.Ring,
      process: Column => Column): DataCube = {
    val (xd, yd) = xy(cube)
    val in = Geo.pointInPolygon(col(xd), col(yd), ring)
    cube.withDf(_.withColumn(cube.meta.valueCol,
      when(in, process(cube.value)).otherwise(cube.value)))
  }

  /** aggregate_spatial: zonal statistics — reduce all cells inside each
    * named geometry (reference: cubes/aggregate.py:256-323). Zones become a
    * unioned filter-tagged scan: one pass over the cube per plan (Catalyst
    * merges the union branches' scans), one shuffle on (zone, other dims).
    * A cell inside several zones counts in each, matching zonal_stats.
    */
  def aggregateSpatial(cube: DataCube, zones: Seq[(String, Geo.Ring)],
      reducer: Column => Column): DataFrame = {
    val (xd, yd) = xy(cube)
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val tagged = zones.map { case (zid, ring) =>
      cube.df.filter(Geo.pointInPolygon(col(xd), col(yd), ring))
        .withColumn("zone", lit(zid))
    }.reduce(_ unionByName _)
    tagged.groupBy((col("zone") +: others.map(col)): _*)
      .agg(reducer(cube.value).as(cube.meta.valueCol))
  }

  /** Even-odd ray-cast against a RING COLUMN (array<struct<x,y>>) — the
    * dynamic-geometry twin of [[Geo.pointInPolygon]]'s unrolled constant
    * form, for zone tables too large to inline into the plan. The lambda
    * captures only attribute references (the ring column), so the
    * interpreted-HOF capture trap does not bite.
    */
  def pointInRing(px: Column, py: Column, ring: Column): Column = {
    val n = size(ring)
    val idx = sequence(lit(0), n - 1)
    val crossings = aggregate(idx, lit(0), (acc, i) => {
      val a = element_at(ring, i + 1)
      val b = element_at(ring, pmod(i + 1, n) + 1)
      val ax = a.getField("x"); val ay = a.getField("y")
      val bx = b.getField("x"); val by = b.getField("y")
      val straddles = (ay > py) =!= (by > py)
      val xAtY = (bx - ax) * (py - ay) / (by - ay) + ax
      acc + when(straddles && px < xAtY, 1).otherwise(0)
    })
    pmod(crossings, lit(2)) === 1
  }

  /** aggregate_spatial for MANY zones: one scan of the cube joined against a
    * broadcast zone table (zoneId + ring geometry), envelope pre-filter in
    * the join condition, exact ray-cast refinement, then one shuffle on
    * (zone, other dims). [[aggregateSpatial]]'s unioned-scan form is ideal
    * for a handful of inline polygons but builds one plan branch per zone —
    * at thousands of zones the plan itself becomes the bottleneck, while
    * this shape stays a single broadcast-nested-loop join. (Beyond
    * broadcastable zone tables, the next step is a spatial-tile equi-join on
    * a shared grid key.)
    */
  def aggregateSpatialMany(cube: DataCube, zones: DataFrame,
      zoneCol: String, geomCol: String,
      reducer: Column => Column): DataFrame = {
    val (xd, yd) = xy(cube)
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val z = zones.select(col(zoneCol).as("zone"), col(geomCol).as("_ring"))
      .withColumn("_zxmin", array_min(transform(col("_ring"), _.getField("x"))))
      .withColumn("_zxmax", array_max(transform(col("_ring"), _.getField("x"))))
      .withColumn("_zymin", array_min(transform(col("_ring"), _.getField("y"))))
      .withColumn("_zymax", array_max(transform(col("_ring"), _.getField("y"))))
    val joined = cube.df.join(graft.core.Joins.maybeBroadcast(z),
      col(xd) >= col("_zxmin") && col(xd) <= col("_zxmax") &&
        col(yd) >= col("_zymin") && col(yd) <= col("_zymax") &&
        pointInRing(col(xd), col(yd), col("_ring")))
    joined.groupBy((col("zone") +: others.map(col)): _*)
      .agg(reducer(cube.value).as(cube.meta.valueCol))
  }

  /** resample_cube_spatial, method="near": regrid data onto the target
    * cube's (x, y) grid by per-axis nearest coordinate
    * (reference: cubes/resample.py:116-180). Correct for axis-aligned
    * grids, which is all the reference supports. The coordinate maps are
    * distinct-coord tables (tiny) broadcast against the fact rows: no
    * fact-side shuffle for the remap, one shuffle for the final regroup.
    */
  def resampleCubeSpatialNear(data: DataCube, targetXs: Seq[Double],
      targetYs: Seq[Double], reducer: Column => Column): DataCube = {
    val (xd, yd) = xy(data)
    val others = data.meta.dimNames.filterNot(d => d == xd || d == yd)
    val spark = data.df.sparkSession
    import spark.implicits._

    def nearestMap(coords: DataFrame, cName: String, targets: Seq[Double]) = {
      // nearest target = the closer of the two BRACKETING targets (sorted
      // union + running window, ResampleOps.axisBrackets) — O((n+m)·log)
      // instead of the O(n·m) coords×targets cross join; ties in distance
      // break to the smaller target, the same argmin the min_by struct key
      // produced
      val t = targets.distinct.toDF("r")
      ResampleOps.axisBrackets(coords.select(col(cName).as("p")), t)
        .select(col("p").as(cName),
          when(col("r0").isNull, col("r1"))
            .when(col("r1").isNull, col("r0"))
            .when(col("p") - col("r0") <= col("r1") - col("p"), col("r0"))
            .otherwise(col("r1")).as(s"_near_$cName"))
    }

    val xMap = nearestMap(data.df.select(col(xd)).distinct(), xd, targetXs)
    val yMap = nearestMap(data.df.select(col(yd)).distinct(), yd, targetYs)
    val remapped = data.df
      .join(broadcast(xMap), Seq(xd)).join(broadcast(yMap), Seq(yd))
    val out = remapped
      .groupBy((col(s"_near_$xd").as(xd) +: col(s"_near_$yd").as(yd) +:
        others.map(col)): _*)
      .agg(reducer(data.value).as(data.meta.valueCol))
    DataCube(out, data.meta)
  }

  /** openEO `aggregate_spatial_window` (openeo-processes spec proposal;
    * NOT in the reference's export surface — a beyond-reference spec
    * process): reduce over non-overlapping windows of `sizeX` × `sizeY`
    * PIXELS. Pixel indices come from each axis's sorted distinct labels —
    * a metadata-sized frame (the axis, never the fact rows) indexed with a
    * single-partition row_number (the [[ResampleOps.axisBrackets]]
    * discipline) and broadcast back onto the facts, so the whole operator
    * is two broadcast joins + ONE keyed aggregation shuffle at any cube
    * size. The output window label is its first (upper-left) cell's
    * coordinate. `boundary="trim"` drops windows not fully covered by the
    * axis (openEO: "trim: clip the data"); `"pad"` keeps partial windows —
    * on a relational cube absent cells carry no rows, which openEO's
    * null-padding also hands every nodata-ignoring reducer.
    */
  def aggregateSpatialWindow(cube: DataCube, reducer: Column => Column,
      sizeX: Int, sizeY: Int, boundary: String = "pad"): DataCube = {
    import org.apache.spark.sql.expressions.Window
    require(sizeX > 0 && sizeY > 0,
      s"aggregate_spatial_window: size must be positive ($sizeX, $sizeY)")
    require(boundary == "pad" || boundary == "trim",
      s"aggregate_spatial_window: boundary must be pad|trim ($boundary)")
    val (xd, yd) = xy(cube)
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)

    // axis label → (window's first label, window completeness): metadata
    // frame, single-partition index is fine at axis scale
    def windowed(d: String, size: Int): DataFrame = {
      val idxW = Window.orderBy(col(d))
      val grpW = Window.partitionBy(col(s"_w_$d"))
      cube.df.select(col(d)).distinct()
        .withColumn(s"_w_$d", floor((row_number().over(idxW) - 1) / size))
        .withColumn(s"_lbl_$d", min(col(d)).over(grpW))
        .withColumn(s"_full_$d", count(lit(1)).over(grpW) === size)
        .drop(s"_w_$d")
    }

    val joined = cube.df
      .join(broadcast(windowed(xd, sizeX)), Seq(xd))
      .join(broadcast(windowed(yd, sizeY)), Seq(yd))
    val trimmed =
      if (boundary == "trim") joined.filter(col(s"_full_$xd") && col(s"_full_$yd"))
      else joined
    val out = trimmed
      .groupBy((col(s"_lbl_$xd").as(xd) +: col(s"_lbl_$yd").as(yd) +:
        others.map(col)): _*)
      .agg(reducer(cube.value).as(cube.meta.valueCol))
    DataCube(out, cube.meta)
  }
}
