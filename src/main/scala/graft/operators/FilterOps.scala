package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cube filter processes. All are plain Catalyst `Filter` nodes over the
  * long-form cube, so predicate pushdown to the parquet scan is automatic
  * (the reference had to hand-roll pushdown only for STAC search,
  * reference: cubes/load.py:113-156).
  */
object FilterOps {

  /** Half-open temporal slice `[start, end)`, dropping null timestamps
    * (reference: cubes/_filter.py:42-106 — the reference subtracts 1 ms from
    * the closed end; we express the same interval half-open directly).
    */
  def filterTemporal(cube: DataCube, start: String, end: String,
      dimension: Option[String] = None): DataCube =
    filterTemporal(cube, Some(start), Some(end), dimension)

  /** Open-interval form: a `None` bound leaves that side unbounded — openEO
    * temporal extents allow `null` for open intervals (reference handles
    * `extent[i] is None`, cubes/_filter.py:42-106); both-null is the spec's
    * `TemporalExtentEmpty` error.
    */
  def filterTemporal(cube: DataCube, start: Option[String],
      end: Option[String], dimension: Option[String]): DataCube = {
    val dim = dimension.getOrElse(cube.temporalDim)
    cube.requireDim(dim)
    require(start.nonEmpty || end.nonEmpty,
      "TemporalExtentEmpty: both temporal bounds are null")
    for (s <- start; e <- end)
      require(s < e, s"TemporalExtentEmpty: [$s, $e)")
    val t = col(dim)
    val lower = start.map(s => t >= to_timestamp(lit(s))).getOrElse(lit(true))
    val upper = end.map(e => t < to_timestamp(lit(e))).getOrElse(lit(true))
    cube.withDf(_.filter(t.isNotNull && lower && upper))
  }

  /** Spatial bounding-box slice, inclusive on all edges like label-based
    * xarray slicing (reference: cubes/_filter.py:171-281). CRS reprojection
    * of the bbox happens driver-side before this is called.
    */
  def filterBbox(cube: DataCube, west: Double, east: Double,
      south: Double, north: Double): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y spatial dims")
    val (xd, yd) = (sd.head, sd(1))
    cube.withDf(_.filter(col(xd).between(west, east) && col(yd).between(south, north)))
  }

  /** Band-label selection; errors if any requested band is absent
    * (reference: cubes/_filter.py:133-149). The check runs on the driver
    * against the cube's known band labels, with no job, as `ndvi`'s does;
    * a cube without known band labels is not checked.
    */
  def filterBands(cube: DataCube, bands: Seq[String]): DataCube = {
    if (cube.meta.bandDims.isEmpty) throw new IllegalArgumentException(
      "DimensionMissing: a band dimension is missing") // _filter.py:139-140
    val dim = cube.bandDim
    val known = cube.labels.get(dim)
    known.foreach { ls =>
      val absent = bands.filterNot(ls.contains)
      if (absent.nonEmpty) throw new IllegalArgumentException(
        s"BandFilterParameterMissing: requested bands ${absent.mkString(", ")} " +
          "are not among the cube's bands")
    }
    // the rows left hold the known band labels that were asked for, in
    // their order; the other dims may lose labels, so theirs are unknown
    val kept = known.map(ls => dim -> ls.filter(bands.contains))
    DataCube(cube.df.filter(col(dim).isin(bands: _*)), cube.meta, kept.toMap)
  }

  /** Keep rows whose label on `dimension` satisfies `condition` — the
    * condition is a compiled Column predicate over the label value
    * (reference: cubes/_filter.py:109-130, callback over labels).
    */
  def filterLabels(cube: DataCube, dimension: String,
      condition: Column => Column): DataCube = {
    cube.requireDim(dimension)
    cube.withDf(_.filter(condition(col(dimension))))
  }
}
