package graft.sources

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** load_stac, Spark-native shape
  * (reference: openeo_processes_dask cubes/load.py:94-322).
  *
  * The reference's pipeline is: validate STAC → search items by
  * bbox/time/properties → select band assets → lazy pixel load → post
  * filters. Here the catalog phase is driver-side metadata work (items are
  * small JSON), producing an ASSET TABLE: one row per (item, band asset)
  * with href, datetime, bbox and band name. The assets of a load then
  * mount as ONE DataSourceV2 scan ([[graft.sources.v2.CubeSource]])
  * that plans every asset's chunk and strip/tile reads under the pushed
  * extent and packs them into core-sized partitions — thousands of COG
  * assets at 100 TB spread over every executor core, while a small raster
  * runs as a few tasks instead of one per chunk.
  *
  * Pixels decode from local zarr stores ([[ZarrReader]], rank 2 and 3)
  * and GeoTIFF/COG files ([[TiffReader]]). Catalogs, items and assets are
  * read from the local filesystem only: a catalog URL with another scheme
  * fails with `StacUrlUnsupported`, an asset href that resolves to no
  * local store or file with `AssetUnreachable`, and an asset whose header
  * does not parse fails the load — the reference, too, raises rather than
  * load pixels it cannot read.
  */
object StacLoader {

  final case class StacAsset(itemId: String, band: String, href: String,
      datetime: String, west: Double, south: Double, east: Double, north: Double,
      mediaType: String = "", properties: Map[String, String] = Map.empty,
      timeLabels: Seq[String] = Nil)

  /** Parse a STAC Item JSON into its band assets (driver-side; items are
    * kilobytes). Mirrors the reference's asset/band selection
    * (load.py:245-304) including `eo:bands` name resolution.
    */
  def parseItem(json: String): Seq[StacAsset] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val root = JsonMethods.parse(json)
    val id = (root \ "id").extract[String]
    val dt = (root \ "properties" \ "datetime").extract[String]
    val bbox = (root \ "bbox").extract[List[Double]]
    val assets = (root \ "assets").extract[Map[String, JValue]]
    // item-level scalar properties travel with each asset so the property
    // filters (the STAC query extension the reference pushes to the API,
    // load.py:153-154) can run against a static catalog
    val props: Map[String, String] = (root \ "properties") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
        case (k, JInt(v)) => k -> v.toString
        case (k, JDouble(v)) => k -> v.toString
        case (k, JBool(v)) => k -> v.toString
      }.toMap
      case _ => Map.empty
    }
    // STAC datacube extension (`cube:dimensions`): when the item declares
    // a TEMPORAL dimension with explicit label `values`, the asset's
    // zarr axis 0 is a time axis and those labels are its index→datetime
    // mapping — what temporal_extent pushdown maps onto chunk ranges
    val timeLabels: Seq[String] =
      (root \ "properties" \ "cube:dimensions") match {
        case JObject(dims) => dims.collectFirst {
          case (_, d) if (d \ "type") == JString("temporal") =>
            (d \ "values") match {
              case JArray(vs) => vs.collect { case JString(s) => s }
              case _ => Nil
            }
        }.getOrElse(Nil)
        case _ => Nil
      }
    assets.toSeq.flatMap { case (name, a) =>
      val mediaType = (a \ "type") match {
        case JString(t) => t
        case _ => ""
      }
      // raster assets: COG/GeoTIFF tiles AND zarr stores (load.py also
      // accepts zarr items; decode differs, the catalog row is the same)
      val isRaster = mediaType.contains("geotiff") ||
        mediaType.contains("cog") || mediaType.contains("zarr")
      if (!isRaster) None
      else {
        val band = (a \ "eo:bands") match {
          case JArray(b :: _) => (b \ "name") match {
            case JString(n) => n
            case _ => name
          }
          case _ => name
        }
        val href = (a \ "href").extract[String]
        Some(StacAsset(id, band, href, dt, bbox(0), bbox(1), bbox(2), bbox(3),
          mediaType, props, timeLabels))
      }
    }
  }

  /** Read a static STAC catalog JSON — `links` with `rel = "item"`, hrefs
    * resolved against the catalog's own directory — and parse every item
    * into its band assets. A relative asset href is resolved against its
    * item file's directory, as STAC specifies, when that path exists;
    * otherwise it is left as written (a path relative to the working
    * directory). The offline twin of the reference's
    * `client.search()` phase (load.py:111-161): a filesystem catalog
    * instead of an API, the same item → asset-table product. Driver-side:
    * catalogs and items are kilobytes; the PIXELS fan out to executors.
    * The catalog and its item links must be `file://` URLs or plain paths;
    * any other scheme is a `StacUrlUnsupported` error naming the URL.
    */
  def loadCatalogItems(catalogPath: String): Seq[StacAsset] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val path = localPath(catalogPath)
    val root = JsonMethods.parse(java.nio.file.Files.readString(path))
    val base = path.toAbsolutePath.getParent
    (root \ "links") match {
      case JArray(ls) => ls.flatMap { l =>
        (l \ "rel", l \ "href") match {
          case (JString("item"), JString(href)) =>
            val hp = localPath(href)
            val p = if (hp.isAbsolute) hp else base.resolve(hp)
            parseItem(java.nio.file.Files.readString(p))
              .map(a => a.copy(href = itemRelative(p.getParent, a.href)))
          case _ => Nil
        }
      }
      case _ => Nil
    }
  }

  private def localPath(url: String): java.nio.file.Path = {
    if (url.contains("://") && !url.startsWith("file://"))
      throw new IllegalArgumentException(s"StacUrlUnsupported: $url " +
        "(load_stac reads file catalogs only: a file:// URL or a local path)")
    java.nio.file.Paths.get(url.stripPrefix("file://"))
  }

  private def itemRelative(itemDir: java.nio.file.Path, href: String)
      : String = {
    val raw = href.stripPrefix("file://")
    if (raw.contains("://") || java.nio.file.Paths.get(raw).isAbsolute) href
    else {
      val resolved = itemDir.resolve(raw)
      if (java.nio.file.Files.exists(resolved)) resolved.toString else href
    }
  }

  /** Item-level search filters — the reference pushes these to the STAC API
    * (load.py:111-161); on a static catalog they prune the asset table
    * before any pixel work is planned.
    */
  def filterAssets(assets: Seq[StacAsset],
      bands: Option[Seq[String]] = None,
      bbox: Option[(Double, Double, Double, Double)] = None,
      timeRange: Option[(String, String)] = None,
      properties: Map[String, Seq[(String, String)]] = Map.empty): Seq[StacAsset] = {
    assets
      .filter(a => bands.forall(_.contains(a.band)))
      .filter(a => bbox.forall { case (w, s, e, n) =>
        a.east >= w && a.west <= e && a.north >= s && a.south <= n })
      .filter(a => timeRange.forall { case (start, end) =>
        // an empty-string bound is open (openEO null extent element):
        // "" is <= every ISO datetime, so only the end needs a guard.
        // A time-axis asset (cube:dimensions labels) survives when ANY
        // of its slices falls in the range — the per-slice cut happens
        // at chunk planning inside loadCube. Label-based selection must
        // match the EMISSION path: only zarr assets mount with a time
        // axis, so only they may be selected by their labels — a GeoTIFF
        // emits its single item datetime, and selecting it by labels the
        // rows never carry would survive here and then be silently
        // emptied by loadCube's authoritative temporal trim.
        def in(t: String) = t >= start && (end.isEmpty || t < end)
        if (a.timeLabels.nonEmpty && a.mediaType.contains("zarr"))
          a.timeLabels.exists(in)
        else in(a.datetime)
      })
      .filter(a => properties.forall { case (prop, preds) =>
        preds.forall { case (op, operand) =>
          propMatches(a.properties.get(prop), op, operand) }
      })
  }

  /** One predicate of the STAC query extension (`{"eo:cloud_cover":
    * {"lt": 50}}` — the `properties` argument the reference forwards as
    * `query_params["query"]`, load.py:153-154). Numeric comparison when
    * both sides parse as numbers, else lexicographic; a missing property
    * never matches (the API behaves the same).
    */
  private def propMatches(value: Option[String], op: String,
      operand: String): Boolean =
    value.exists { v =>
      val cmp = (v.toDoubleOption, operand.toDoubleOption) match {
        case (Some(a), Some(b)) => java.lang.Double.compare(a, b)
        case _ => v.compareTo(operand)
      }
      op match {
        case "eq" => cmp == 0
        case "neq" => cmp != 0
        case "lt" => cmp < 0
        case "lte" => cmp <= 0
        case "gt" => cmp > 0
        case "gte" => cmp >= 0
        case other => throw new IllegalArgumentException(
          s"OpenEOException: unsupported property operator $other")
      }
    }

  /** Local zarr-store directory of an asset, when its href resolves to one
    * (file:// or plain path holding a v2 `.zarray` or a v3 `zarr.json`).
    */
  def zarrDirOf(a: StacAsset): Option[String] = {
    if (!a.mediaType.contains("zarr")) return None
    val path = a.href.stripPrefix("file://")
    if (new java.io.File(path, ".zarray").isFile ||
      new java.io.File(path, "zarr.json").isFile) Some(path) else None
  }

  /** Local single-file TIFF/COG path of an asset, when reachable. */
  def tiffPathOf(a: StacAsset): Option[String] = {
    if (!(a.mediaType.contains("geotiff") || a.mediaType.contains("cog")))
      return None
    val path = a.href.stripPrefix("file://")
    if (new java.io.File(path).isFile) Some(path) else None
  }

  /** The asset mounted for the cube scan, its header parsed (or the parse
    * error thrown); an href that resolves to no local zarr store or TIFF
    * file is an `AssetUnreachable` error naming the href.
    */
  private def mount(a: StacAsset): v2.CubeSource.Asset =
    zarrDirOf(a).map(d => v2.CubeSource.zarr(d, a.west, a.south, a.east,
      a.north, a.band, a.datetime, a.timeLabels))
      .orElse(tiffPathOf(a).map(p => v2.CubeSource.tiff(p, a.west, a.south,
        a.east, a.north, a.band, a.datetime)))
      .getOrElse(throw new IllegalArgumentException(
        s"AssetUnreachable: ${a.href} (no local zarr store or TIFF file)"))

  /** Pixel load. Zarr stores decode through [[ZarrReader]] and GeoTIFF/COG
    * files through [[TiffReader]] (strips/tiles, none/LZW/JPEG/deflate/
    * PackBits, chunky and planar band layouts, classic and BigTIFF) — one
    * scan whose chunk and strip reads pack into core-sized partitions,
    * row/col mapped onto the item bbox. Each asset is mounted once, here,
    * on the driver before any Spark job: its header is parsed and carried
    * into every later plan. An href with no local store or file behind it
    * (an object-store URI with no local copy) fails with
    * `AssetUnreachable`; a header that does not parse (a corrupt TIFF, a
    * zarr store of rank other than 2 or 3) or temporal labels that do not
    * label a zarr store's axis-0 slices one each fail the load too.
    *
    * `projection` / `resolution` / `resampling` mirror the reference
    * loader's convenience args (cubes/load.py:94-109): decode at the native
    * grid, then warp to the target CRS and regrid to the target resolution
    * with the named method — the same composition a user would write with
    * resample_spatial, applied at the loader.
    */
  def loadCube(spark: SparkSession, assets: Seq[StacAsset],
      projection: Option[String] = None,
      resolution: Option[Double] = None,
      resampling: String = "near",
      bbox: Option[(Double, Double, Double, Double)] = None,
      timeRange: Option[(String, String)] = None): DataCube = {
    // the openEO load contract (reference cubes/load.py:26-28): extents
    // that select NO items/assets are a named error, not an empty cube
    if (assets.isEmpty) throw new IllegalArgumentException(
      "NoDataAvailable: there is no data available for the given extents")
    // the assets mount as ONE DataSourceV2 scan
    // ([[graft.sources.v2.CubeSource]]): a cube-coordinate table
    // (x, y, t, bands, value) whose scan translates pushed x/y/t/bands
    // predicates into chunk-index and strip/tile ranges, then packs the
    // planned reads into core-sized partitions. The bbox and temporal
    // extents below are plain Catalyst filters, so pruning arrives via
    // the optimizer — and a graph that filters AFTER loading
    // (filter_bbox / filter_temporal post load_stac) prunes reads the
    // same way, the engine's twin of the reference's dask lazy slicing
    // (cubes/load.py:245-310). Zarr axis semantics live in the source:
    // rank 3 is a time axis when the item declares cube:dimensions
    // temporal labels (one per axis-0 slice, or the mount fails), else
    // the common Sentinel (band, row, col).
    val unioned = v2.CubeSource.frame(spark, assets.map(mount))
    // exact closed-bounds trim (same contract as FilterOps.filterBbox):
    // the index-range pushdown above is deliberately a cell wider than the
    // extent; this filter is the authoritative cut
    val bboxed = bbox.fold(unioned) { case (w, s, e, n) =>
      unioned.filter(col("x").between(w, e) && col("y").between(s, n))
    }
    // temporal trim (openEO closed-open interval, "" = open bound): on a
    // time-axis zarr asset these predicates push into the scan and prune
    // axis-0 chunks; on single-datetime assets they are constant checks
    val all = timeRange.fold(bboxed) { case (s0, e0) =>
      val lo = if (s0.isEmpty) bboxed
        else bboxed.filter(col("t") >= to_timestamp(lit(s0)))
      if (e0.isEmpty) lo else lo.filter(col("t") < to_timestamp(lit(e0)))
    }
    val native = DataCube.fromTable(all, Seq("x", "y", "t", "bands"), "value",
      crs = Some("EPSG:4326"))
    val warped = projection.fold(native)(p =>
      graft.operators.ResampleOps.warpCube(native, p))
    resolution.filter(_ != 0.0).fold(warped)(r =>
      graft.operators.ResampleOps.resampleByMethod(warped, r, r, resampling))
  }
}
