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

/** One named dimension of a cube. `labels` is optionally materialised for
  * operators that must preserve empty labels (aggregate_temporal's gap bins,
  * trim_cube) or that want to compare label sets WITHOUT running a Spark job
  * (merge_cubes' case dispatch); otherwise labels are implicit = distinct
  * column values. Stored canonically as strings (a dim column has one type,
  * so string equality is value equality within it).
  */
final case class CubeDim(name: String, dimType: DimType,
    labels: Option[Set[String]] = None)

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
  */
final case class DataCube(df: DataFrame, meta: CubeMetadata) {
  def value: Column = col(meta.valueCol)
  /** All dimension columns except `dim` — the groupBy set when reducing over
    * `dim` (reference reduce semantics: cubes/reduce.py:13-46).
    */
  def dimColsExcept(dim: String): Seq[Column] =
    meta.dimNames.filterNot(_ == dim).map(col)
  def withDf(f: DataFrame => DataFrame): DataCube = copy(df = f(df))

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

  /** Materialise the label sets of `dims` into the metadata with ONE Spark
    * job (a union of per-dim distinct scans), so later plan-time decisions —
    * merge_cubes' case dispatch, target-dimension checks — read metadata
    * instead of launching jobs. Call it once after load/resample when a
    * pipeline merges repeatedly; all cube operators keep working without it.
    */
  def materializeLabels(dims: Seq[String] = meta.dimNames): DataCube = {
    val sets = DataCube.labelSets(df, dims)
    copy(meta = meta.copy(dims = meta.dims.map(d =>
      if (sets.contains(d.name)) d.copy(labels = Some(sets(d.name))) else d)))
  }
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

  /** Distinct labels of several dim columns in ONE job: union the per-dim
    * tagged distinct scans (each metadata-sized) and collect once.
    */
  def labelSets(df: DataFrame, dims: Seq[String]): Map[String, Set[String]] = {
    if (dims.isEmpty) return Map.empty
    val tagged = dims.map(d =>
      df.select(lit(d).as("_dim"), col(d).cast("string").as("_label")).distinct())
    tagged.reduce(_ unionAll _).collect()
      .groupBy(_.getString(0))
      .map { case (d, rows) => d -> rows.map(r => String.valueOf(r.get(1))).toSet }
  }
}
