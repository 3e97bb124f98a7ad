package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimension classification, mirroring the reference's 4-way typing of cube
  * dimensions (reference: openeo_processes_dask/process_implementations/cubes/_xr_interop.py:7-37).
  */
sealed trait DimType
object DimType {
  case object Spatial extends DimType
  case object Temporal extends DimType
  case object Bands extends DimType
  case object Other extends DimType
}

/** One named dimension of a cube. */
final case class CubeDim(name: String, dimType: DimType)

/** Cube-level metadata: the dimension list (ordered), an optional CRS string
  * (e.g. "EPSG:4326"), and the name of the value column.
  *
  * Mirrors what the reference hangs off xarray attrs + the `.openeo` accessor
  * (reference: cubes/_xr_interop.py:61-105, tests/mockdata.py:50-57).
  */
final case class CubeMetadata(
    dims: Seq[CubeDim],
    crs: Option[String] = None,
    valueCol: String = "value"
) {
  def dimNames: Seq[String] = dims.map(_.name)
  def has(dim: String): Boolean = dims.exists(_.name == dim)
  def dimType(dim: String): DimType =
    dims.find(_.name == dim).map(_.dimType).getOrElse(
      throw new IllegalArgumentException(
        s"DimensionNotAvailable: dimension '$dim' not in ${dimNames.mkString(",")}"))
  def temporalDims: Seq[String] =
    dims.filter(_.dimType == DimType.Temporal).map(_.name)
  def spatialDims: Seq[String] =
    dims.filter(_.dimType == DimType.Spatial).map(_.name)
  def bandDims: Seq[String] =
    dims.filter(_.dimType == DimType.Bands).map(_.name)
  def without(dim: String): CubeMetadata =
    copy(dims = dims.filterNot(_.name == dim))
  def renamed(from: String, to: String): CubeMetadata =
    copy(dims = dims.map(d => if (d.name == from) d.copy(name = to) else d))
}

/** The Spark-native datacube: a *long/tall* DataFrame — one row per cell,
  * one column per dimension plus a value column — wrapped with metadata.
  *
  * This is the central design decision of the engine (SURVEY.md §1.5): the
  * reference's dense labeled ND-array (xr.DataArray,
  * reference: data_model.py:9) becomes a relational table, so every cube
  * operator becomes a Catalyst-optimizable DataFrame transform, and scale-out
  * comes from ordinary Spark partitioning instead of dask chunk gymnastics
  * (cf. the reference's documented OOM limits,
  * docs/scalability/aggregate-large-spatial-extents.md:9-26).
  *
  * `labels` holds the dimension labels that are known without a Spark job:
  * per dimension, the column's distinct values in the column's native order
  * (numeric dims sort numerically), each as its `cast("string")` text. A
  * dimension without an entry has implicit labels, read by [[labelsOf]];
  * any known list also tells whether the cube has rows (empty: none).
  * Only an operator that knows its output labels exactly sets them
  * (filter_bands, add_dimension, ndvi with a target band, merge_cubes'
  * stack; drop_dimension and ndvi keep those of the dims they leave
  * alone). Every cube built from a new frame starts without, so labels
  * never outlive the rows they describe.
  */
final case class DataCube(df: DataFrame, meta: CubeMetadata,
    labels: Map[String, Seq[String]] = Map.empty) {
  def value: Column = col(meta.valueCol)
  /** All dimension columns except `dim` — the groupBy set when reducing over
    * `dim` (reference reduce semantics: cubes/reduce.py:13-46).
    */
  def dimColsExcept(dim: String): Seq[Column] =
    meta.dimNames.filterNot(_ == dim).map(col)
  def withDf(f: DataFrame => DataFrame): DataCube = DataCube(f(df), meta)

  /** The values along `dim` as one row per series (openEO's array callback
    * input, reference: cubes/reduce.py:13-35, cubes/apply.py:42-128): the
    * other dims, then `_keys` (the series' own labels, typed, ascending)
    * and `_vals` (the values in that order), from one `groupBy`. A series
    * holds only the labels present in its rows. Both arrays are built by
    * `transform`, not a field extraction, so projection collapse cannot
    * inline them into a callback's lambdas and re-derive them per element.
    */
  def series(dim: String): DataFrame = {
    requireDim(dim)
    val others = meta.dimNames.filterNot(_ == dim).map(col)
    df.groupBy(others: _*)
      .agg(sort_array(collect_list(struct(col(dim).as("_k"), value.as("_v"))))
        .as("_s"))
      .select((others :+ transform(col("_s"), _.getField("_k")).as("_keys") :+
        transform(col("_s"), _.getField("_v")).as("_vals")): _*)
  }

  /** The labels of `dim` in native order as text: the known ones, else one
    * Spark job over the (column-pruned) dimension column.
    */
  def labelsOf(dim: String): Seq[String] = labels.getOrElse(dim,
    df.select(col(dim)).distinct().orderBy(col(dim))
      .select(col(dim).cast("string")).collect().map(_.getString(0)).toSeq)

  def temporalDim: String = meta.temporalDims match {
    case Seq(d) => d
    case Seq() => throw new IllegalArgumentException(
      "DimensionNotAvailable: no temporal dimension")
    case many => throw new IllegalArgumentException(
      // reference _filter.py:63 / aggregate.py:52: with several temporal
      // dims the `dimension` parameter is mandatory
      s"TooManyDimensions: multiple temporal dimensions " +
        s"(${many.mkString(",")}); the `dimension` parameter must be specified")
  }
  def bandDim: String = meta.bandDims.headOption.getOrElse(
    throw new IllegalArgumentException("DimensionNotAvailable: no bands dimension"))

  def requireDim(dim: String): Unit =
    if (!meta.has(dim))
      throw new IllegalArgumentException(
        s"DimensionNotAvailable: '$dim' not in ${meta.dimNames.mkString(",")}")
}

object DataCube {

  /** Default dimension-type inference by name, mirroring the reference's
    * case-folded name guessing (reference: cubes/_xr_interop.py:7-21).
    */
  val temporalGuesses: Set[String] =
    Set("date", "time", "t", "ts", "year", "quarter", "month", "week", "day",
      "hour", "second")
  val xGuesses: Set[String] = Set("x", "lon", "longitude")
  val yGuesses: Set[String] = Set("y", "lat", "latitude")
  val bandGuesses: Set[String] = Set("b", "bands", "band")

  def inferDimType(name: String): DimType = {
    val n = name.toLowerCase
    if (temporalGuesses(n)) DimType.Temporal
    else if (xGuesses(n) || yGuesses(n)) DimType.Spatial
    else if (bandGuesses(n)) DimType.Bands
    else DimType.Other
  }

  /** Build a cube from any DataFrame by declaring which columns are
    * dimensions and which is the value. Dim types inferred by name unless
    * given explicitly.
    */
  def fromTable(
      df: DataFrame,
      dims: Seq[String],
      valueCol: String,
      dimTypes: Map[String, DimType] = Map.empty,
      crs: Option[String] = None
  ): DataCube = {
    val cubeDims = dims.map(d => CubeDim(d, dimTypes.getOrElse(d, inferDimType(d))))
    val projected = df.select((dims :+ valueCol).map(col): _*)
    DataCube(projected, CubeMetadata(cubeDims, crs, valueCol))
  }
}
