package graft.sources.v2

import graft.sources.{TiffReader, ZarrReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** DataSourceV2 facade over the raster readers: the reachable zarr and
  * GeoTIFF/COG assets of one load exposed as ONE cube-coordinate table
  * `(x, y, t, bands, value)` whose scan translates pushed Catalyst filters
  * into chunk-index and strip/tile ranges.
  *
  * This is what makes extent pruning arrive via the OPTIMIZER instead of
  * loader arguments: a graph that loads first and filters later —
  * `load_stac` → `filter_bbox` → `filter_temporal`, the reference's lazy
  * xarray-slicing ergonomics (cubes/load.py:245-310) — compiles to a
  * `Filter` over this scan, Catalyst pushes the x/y/t/bands predicates
  * down, and the scan plans ONLY the intersecting chunk and segment
  * reads ([[ZarrChunks]], [[TiffSegments]]). At 100 TB the difference is
  * reading a handful of chunk files versus the whole store.
  *
  * Scan layout: the planned reads of every asset are packed into
  * core-sized partitions by Spark's file-scan rule ([[CubeScan]]), so a
  * small raster runs as a few tasks and a large store still spreads over
  * every core. Pushed filters are also RETURNED as residuals, so Spark
  * re-applies them exactly: the index translation may keep a boundary
  * cell (it widens one cell against float edges) but can never produce a
  * wrong row.
  *
  * Axis semantics mirror [[graft.sources.StacLoader.loadCube]]: zarr
  * rank 2 = (row=y, col=x); rank 3 with time labels matching axis 0 =
  * (time, row, col) where each slice carries its label as `t`; any other
  * rank 3 = (band, row, col) with `bands` = `<band>_<i>`. Single-sample
  * TIFFs carry the asset band name, multi-sample ones `<band>_<i>` per
  * sample. Column pruning is supported — a `value`-only aggregate never
  * materialises coordinates.
  *
  * Each asset is MOUNTED once, on the driver, when the load builds it
  * ([[CubeSource.zarr]], [[CubeSource.tiff]]): its zarr header or TIFF
  * IFD is parsed then and rides on the asset, so planning a query (and
  * every later query over the same cube) reads the header from the
  * asset, never from the store again. The engine builds the relation
  * directly over the mounted assets ([[CubeSource.frame]]).
  */
object CubeSource {
  val Schema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("t", TimestampType, nullable = false),
    StructField("bands", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** One mounted asset, carried into every planned read: store/file path,
    * geo transform corners, band name, the constant datetime and the
    * parsed header, whose type is the asset's format.
    */
  sealed trait Asset extends Serializable {
    def path: String

    /** The chunk or strip/tile reads under a pushed extent. */
    private[v2] def plan(e: Extent): Seq[CubeRead]
  }

  /** A zarr store (rank 2 or 3) and, optionally, per-slice time labels. */
  final case class ZarrAsset(path: String, west: Double, south: Double,
      east: Double, north: Double, band: String, datetimeMicros: Long,
      meta: ZarrReader.ZarrMeta, labelMicros: Array[Long]) extends Asset {
    private[v2] def plan(e: Extent): Seq[CubeRead] = ZarrChunks.plan(this, e)
  }

  /** A TIFF; `meta` is the IFD of the overview level it is read at. */
  final case class TiffAsset(path: String, west: Double, south: Double,
      east: Double, north: Double, band: String, datetimeMicros: Long,
      meta: TiffReader.TiffMeta) extends Asset {
    private[v2] def plan(e: Extent): Seq[CubeRead] = TiffSegments.plan(this, e)
  }

  /** Mount a zarr store from STAC item fields (ISO datetimes). Temporal
    * labels, when the item declares them, label axis 0 of a rank-3 store
    * one slice each; any other count fails the mount.
    */
  def zarr(path: String, west: Double, south: Double, east: Double,
      north: Double, band: String, datetime: String,
      timeLabels: Seq[String] = Nil): ZarrAsset = {
    val meta = zarrMeta(path)
    val slices = if (meta.shape.size == 3) meta.shape(0) else 0
    require(timeLabels.isEmpty || timeLabels.size == slices,
      s"CubeSource: ${timeLabels.size} temporal labels for a zarr axis 0 " +
        s"of $slices slices")
    ZarrAsset(path, west, south, east, north, band, parseMicros(datetime),
      meta, timeLabels.map(parseMicros).toArray)
  }

  /** Mount a TIFF (full resolution) from STAC item fields. */
  def tiff(path: String, west: Double, south: Double, east: Double,
      north: Double, band: String, datetime: String): TiffAsset =
    TiffAsset(path, west, south, east, north, band, parseMicros(datetime),
      TiffReader.readMeta(path))

  private def zarrMeta(path: String): ZarrReader.ZarrMeta = {
    val meta = ZarrReader.readMeta(path)
    val rank = meta.shape.size
    require(rank == 2 || rank == 3,
      s"CubeSource: rank-$rank zarr stores unsupported (2 or 3)")
    meta
  }

  /** One scan over `assets` as a DataFrame: the relation is built directly,
    * so the asset list never round-trips through string options.
    */
  def frame(spark: SparkSession, assets: Seq[Asset]): DataFrame =
    PlanBridge.frame(spark, DataSourceV2Relation.create(
      new CubeTable(assets), None, None))

  /** Band name of a unit-grid mount: rank-3 zarr axis 0 and TIFF samples
    * read as `band_<i>`.
    */
  private[graft] val UnitBand = "band"

  /** A zarr store mounted on its own index grid — west = south = 0,
    * east = width, north = height — so `x` is the column and `y` the row
    * index exactly. The index readers
    * ([[graft.sources.ZarrReader.loadArray]],
    * [[graft.sources.TiffReader.loadArray]]) are projections over such a
    * mount ([[frame]]), so their slices push down like any extent filter.
    */
  private[graft] def unitZarr(path: String): ZarrAsset = {
    val meta = zarrMeta(path)
    val rank = meta.shape.size
    ZarrAsset(path, 0.0, 0.0, meta.shape(rank - 1), meta.shape(rank - 2),
      UnitBand, 0L, meta, Array.empty)
  }

  /** A TIFF's overview `level` mounted on its own index grid. */
  private[graft] def unitTiff(path: String, level: Int = 0): TiffAsset = {
    val meta = TiffReader.readMeta(path, level)
    TiffAsset(path, 0.0, 0.0, meta.width, meta.height, UnitBand, 0L, meta)
  }

  /** ISO datetime → epoch micros (UTC). Accepts instants with offset,
    * bare datetimes and bare dates — the forms STAC items carry.
    */
  private[v2] def parseMicros(s: String): Long = {
    val inst =
      try java.time.Instant.parse(s)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(s)
            .atOffset(java.time.ZoneOffset.UTC).toInstant
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDate.parse(s).atStartOfDay(
                java.time.ZoneOffset.UTC).toInstant
          }
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** A pushed comparison value → epoch micros; the Filter API hands
    * TimestampType literals as java.sql.Timestamp (default) or
    * java.time.Instant (java8 datetime API).
    */
  private[v2] def toMicros(v: Any): Option[Long] = v match {
    case ts: java.sql.Timestamp =>
      Some(math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case s: String => scala.util.Try(parseMicros(s)).toOption
    case _ => None
  }

  private[v2] def toDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case d: java.math.BigDecimal => Some(d.doubleValue())
    case _ => None
  }
}

private[v2] class CubeTable(assets: Seq[CubeSource.Asset])
    extends Table with SupportsRead {
  override def name(): String = assets match {
    case Seq(a) => s"cube:${a.path}"
    case _ => s"cube:${assets.size} assets"
  }
  override def schema(): StructType = CubeSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new CubeExtentScanBuilder(assets)
}
