package graft

import graft.core.DimType
import graft.sources.StacLoader
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** load_stac pipeline over a minimal inline STAC item (shape mirrors the
  * reference's Sentinel-2 fixture, tests/data/stac/s2_l2a_test_item.json).
  */
class StacLoaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  val item =
    """{"type":"Feature","stac_version":"1.0.0","id":"item-1",
      |"bbox":[10.0,46.0,11.0,47.0],
      |"properties":{"datetime":"2023-06-02T10:18:03Z",
      |  "eo:cloud_cover":12.5,"platform":"sentinel-2a"},
      |"assets":{
      |  "blue":{"href":"s3://bucket/blue.tif","type":"image/tiff; application=geotiff; profile=cloud-optimized",
      |          "eo:bands":[{"name":"B02"}]},
      |  "red":{"href":"s3://bucket/red.tif","type":"image/tiff; application=geotiff; profile=cloud-optimized",
      |         "eo:bands":[{"name":"B04"}]},
      |  "thumbnail":{"href":"s3://bucket/thumb.png","type":"image/png"}
      |}}""".stripMargin

  val zarrItem =
    """{"type":"Feature","stac_version":"1.0.0","id":"item-z",
      |"bbox":[10.0,46.0,11.0,47.0],
      |"properties":{"datetime":"2023-06-09T10:18:03Z",
      |  "eo:cloud_cover":48.0,"platform":"sentinel-2b"},
      |"assets":{
      |  "store":{"href":"s3://bucket/scene.zarr","type":"application/vnd+zarr"}
      |}}""".stripMargin

  test("catalog traversal: links resolve, items parse, search prunes, pixels decode") {
    // the driver fixture end to end: static catalog → 4 items × 2 deflate
    // striped TIFF assets → band/time/property pruning → real decode
    val fix = graft.queries.StacFixture.ensure()
    val assets = StacLoader.loadCatalogItems(s"file://$fix/catalog.json")
    assert(assets.size == 8)
    assert(assets.map(_.itemId).distinct.sorted ==
      Seq("item-0", "item-1", "item-2", "item-3"))
    val sel = StacLoader.filterAssets(assets,
      bands = Some(Seq("b01", "b02")),
      timeRange = Some(("2024-01-01T00:00:00Z", "2024-01-10T00:00:00Z")),
      properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))))
    assert(sel.map(_.itemId).distinct.sorted == Seq("item-0", "item-1"))
    val df = StacLoader.loadCube(spark, sel).df
    assert(df.count() == 2 * 2 * 8 * 6)
    // spot-check one REAL decoded pixel: item 1, band b02, row 3, col 5
    // → value 1135 at x = 10 + 5·0.25, y = 40 + 3·0.5
    import org.apache.spark.sql.functions.col
    val v = df.filter(col("bands") === "b02" && col("x") === 11.25 &&
        col("y") === 41.5).orderBy("value").collect()
    assert(v.map(_.getAs[Double]("value")).toSeq == Seq(135.0, 1135.0))
  }

  test("catalog load resolves relative asset hrefs against the item file") {
    // STAC resolves a relative href against the document holding it: a
    // catalog loaded from outside the working directory must decode the
    // real raster, not fall back to the fake grid
    val root = java.nio.file.Files.createTempDirectory("graft_stac_rel")
    val items = java.nio.file.Files.createDirectory(root.resolve("items"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(writeTiffFixture(deflate = true)),
      items.resolve("red.tif"))
    java.nio.file.Files.writeString(items.resolve("item-rel.json"),
      """{"type":"Feature","stac_version":"1.0.0","id":"item-rel",
        |"bbox":[10.0,46.0,11.0,47.0],
        |"properties":{"datetime":"2023-06-10T10:00:00Z"},
        |"assets":{
        |  "red":{"href":"red.tif",
        |         "type":"image/tiff; application=geotiff; profile=cloud-optimized",
        |         "eo:bands":[{"name":"B04"}]},
        |  "nir":{"href":"absent.tif",
        |         "type":"image/tiff; application=geotiff; profile=cloud-optimized",
        |         "eo:bands":[{"name":"B08"}]}
        |}}""".stripMargin)
    java.nio.file.Files.writeString(root.resolve("catalog.json"),
      """{"type":"Catalog","id":"rel","stac_version":"1.0.0",
        |"links":[{"rel":"item","href":"items/item-rel.json"}]}""".stripMargin)
    val assets = StacLoader.loadCatalogItems(root.resolve("catalog.json").toString)
    val byBand = assets.map(a => a.band -> a.href).toMap
    assert(byBand("B04") == items.resolve("red.tif").toString)
    // a relative href that resolves to nothing is left as written
    assert(byBand("B08") == "absent.tif")
    val rows = StacLoader.loadCube(spark, assets.filter(_.band == "B04"))
      .df.collect()
    assert(rows.length == 24) // real raster shape, not the fake 8×8 grid
    assert(rows.exists(r => r.getDouble(4) == 12.0)) // pixel (1, 2)
  }

  test("TiffWriter deflate + multi-strip round-trips through TiffReader") {
    val vals = Array.tabulate(7 * 5)(i => (i * 3 + 1).toFloat)
    for (deflate <- Seq(false, true); rps <- Seq(0, 2, 5)) {
      val f = java.nio.file.Files.createTempFile("graft_tw", ".tif").toString
      sources.TiffWriter.write(f, 7, 5, vals, deflate, rps)
      val meta = sources.TiffReader.readMeta(f)
      assert(meta.width == 7 && meta.height == 5)
      val got = sources.TiffReader.loadArray(spark, f).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.size == 35)
      for (r <- 0 until 5; c <- 0 until 7)
        assert(got((r.toLong, c.toLong)) == vals(r * 7 + c).toDouble,
          s"deflate=$deflate rps=$rps r=$r c=$c")
    }
  }

  test("parseItem extracts raster band assets only, resolving eo:bands names") {
    val assets = StacLoader.parseItem(item)
    assert(assets.map(_.band).toSet == Set("B02", "B04"))
    assert(assets.forall(_.itemId == "item-1"))
  }

  test("filterAssets prunes by band, bbox and time") {
    val assets = StacLoader.parseItem(item)
    assert(StacLoader.filterAssets(assets, bands = Some(Seq("B02"))).size == 1)
    assert(StacLoader.filterAssets(assets,
      bbox = Some((20.0, 50.0, 21.0, 51.0))).isEmpty)
    assert(StacLoader.filterAssets(assets,
      timeRange = Some(("2023-06-01", "2023-06-03"))).size == 2)
    assert(StacLoader.filterAssets(assets,
      timeRange = Some(("2024-01-01", "2024-02-01"))).isEmpty)
    // "" = open bound (openEO null extent element)
    assert(StacLoader.filterAssets(assets,
      timeRange = Some(("", "2023-06-03"))).size == 2)
    assert(StacLoader.filterAssets(assets,
      timeRange = Some(("2023-06-01", ""))).size == 2)
    assert(StacLoader.filterAssets(assets,
      timeRange = Some(("2024-01-01", ""))).isEmpty)
  }

  test("temporal labels only select assets that MOUNT with a time axis") {
    // a GeoTIFF item may (mis)declare cube:dimensions temporal labels, but
    // its rows carry the single item datetime — selecting it by a label
    // the cube never emits would survive filterAssets and then be
    // silently emptied by loadCube's authoritative temporal trim
    val tiff = StacLoader.StacAsset("i-t", "B02", "file:///tmp/x.tif",
      "2024-01-01T00:00:00Z", 0, 0, 1, 1,
      "image/tiff; application=geotiff", Map.empty,
      timeLabels = Seq("2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z"))
    val zarr = tiff.copy(itemId = "i-z", mediaType = "application/vnd+zarr")
    // range hits only the SECOND label: the zarr asset (time axis) stays,
    // the tiff (datetime outside the range) must drop
    val sel = StacLoader.filterAssets(Seq(tiff, zarr),
      timeRange = Some(("2024-01-15", "2024-02-15")))
    assert(sel.map(_.itemId) == Seq("i-z"))
    // a range covering the tiff's actual datetime keeps both
    val sel2 = StacLoader.filterAssets(Seq(tiff, zarr),
      timeRange = Some(("2023-12-01", "2024-01-15")))
    assert(sel2.map(_.itemId).toSet == Set("i-t", "i-z"))
  }

  test("zarr assets join the catalog; property filters prune like the API") {
    val assets = StacLoader.parseItem(item) ++ StacLoader.parseItem(zarrItem)
    // zarr stores are raster assets (named by asset key, no eo:bands)
    val z = assets.filter(_.mediaType.contains("zarr"))
    assert(z.map(_.band) == Seq("store") && z.head.itemId == "item-z")
    // STAC query-extension predicates against the static catalog
    assert(StacLoader.filterAssets(assets,
      properties = Map("eo:cloud_cover" -> Seq("lt" -> "20")))
      .forall(_.itemId == "item-1"))
    assert(StacLoader.filterAssets(assets,
      properties = Map("eo:cloud_cover" -> Seq("gte" -> "20", "lte" -> "50")))
      .forall(_.itemId == "item-z"))
    assert(StacLoader.filterAssets(assets,
      properties = Map("platform" -> Seq("eq" -> "sentinel-2a"))).size == 2)
    assert(StacLoader.filterAssets(assets,
      properties = Map("platform" -> Seq("neq" -> "sentinel-2a")))
      .map(_.itemId).distinct == Seq("item-z"))
    // a missing property never matches; unknown operators raise
    assert(StacLoader.filterAssets(assets,
      properties = Map("no:such" -> Seq("eq" -> "x"))).isEmpty)
    intercept[IllegalArgumentException] {
      StacLoader.filterAssets(assets,
        properties = Map("platform" -> Seq("like" -> "s%")))
    }
    // composition: property + band + time filters stack
    assert(StacLoader.filterAssets(assets, bands = Some(Seq("B02", "store")),
      timeRange = Some(("2023-06-01", "2023-06-30")),
      properties = Map("eo:cloud_cover" -> Seq("lt" -> "60"))).size == 2)
  }

  /** Write a zarr v2 store byte-by-byte per the public spec: shape (4,6),
    * chunks (2,4) → 2×2 chunk grid with column padding on the right edge,
    * little-endian float64, zlib-compressed. Values v(r,c) = r*10 + c.
    */
  def writeZarrFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr").toFile
    val zarray =
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8",
        |"compressor":{"id":"zlib","level":1},"fill_value":0.0,
        |"filters":null,"order":"C"}""".stripMargin
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zarray").toPath, zarray)
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    for (ci <- 0 until 2; cj <- 0 until 2) {
      val bb = java.nio.ByteBuffer.allocate(2 * 4 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 4) {
        val (gr, gc) = (ci * 2 + r, cj * 4 + c)
        bb.putDouble(if (gr < 4 && gc < 6) gr * 10.0 + gc else 0.0) // edge pad
      }
      java.nio.file.Files.write(
        new java.io.File(dir, s"$ci.$cj").toPath, deflate(bb.array()))
    }
    dir.getAbsolutePath
  }

  test("ZarrReader decodes a spec-conformant zlib store, clipping edge pads") {
    import graft.sources.ZarrReader
    val dir = writeZarrFixture()
    val meta = ZarrReader.readMeta(dir)
    assert(meta.shape == Seq(4, 6) && meta.chunks == Seq(2, 4) &&
      meta.dtype == "<f8" && meta.compressor.contains("zlib"))
    val df = ZarrReader.loadArray(spark, dir, Seq("r", "c"))
    val got = df.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(got.size == 24) // padding clipped: 4×6 in-bounds cells only
    for (r <- 0 until 4; c <- 0 until 6)
      assert(got((r.toLong, c.toLong)) == r * 10.0 + c)
  }

  test("save_result GTiff round-trips through the pure-JVM reader; gates hold") {
    import graft.core.{DataCube, DimType}
    import graft.sources.{CubeIO, TiffReader}
    val sess = spark
    import sess.implicits._
    val grid = (for { y <- 0 until 3; x <- 0 until 4 }
      yield (x.toDouble, 2.0 - y, y * 10.0 + x)) // y descending = row order
      .toDF("x", "y", "value")
    val cube = DataCube.fromTable(grid, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
    val path = java.nio.file.Files.createTempFile("graft_out", ".tif")
      .toString
    CubeIO.saveResult(cube, path, format = "GTiff")
    val meta = TiffReader.readMeta(path)
    assert(meta.width == 4 && meta.height == 3 && meta.sampleFormat == 3)
    val back = TiffReader.loadArray(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // row 0 = northernmost y (y=2.0 ↔ our y index 0)
    for (row <- 0 until 3; c <- 0 until 4)
      assert(back((row.toLong, c.toLong)) == row * 10.0 + c)
    // non-spatial dims must be singular
    val banded = DataCube.fromTable(
      Seq((0.0, 0.0, "B1", 1.0), (0.0, 0.0, "B2", 2.0))
        .toDF("x", "y", "band", "value"),
      Seq("x", "y", "band"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial,
        "band" -> DimType.Bands))
    val e = intercept[IllegalArgumentException] {
      CubeIO.saveResult(banded, path, format = "gtiff")
    }
    assert(e.getMessage.contains("FormatUnsuitable"))
    // the driver size gate refuses oversized grids
    val e2 = intercept[IllegalArgumentException] {
      CubeIO.saveGeoTiff(cube, path, maxCells = 4)
    }
    assert(e2.getMessage.contains("driver gate"))
    // csv sink round-trips through Spark's reader
    val csvDir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    CubeIO.saveResult(cube, csvDir, format = "csv")
    assert(spark.read.option("header", "true").csv(csvDir).count() == 12)
  }

  test("save_result zarr: executors write chunks; round-trips incl. sparse") {
    import graft.core.{DataCube, DimType}
    import graft.sources.{CubeIO, ZarrReader}
    val sess = spark
    import sess.implicits._
    // 4×6 grid, chunks (2,4) in the writer's default... use small chunks
    // via ZarrWriter directly; DROP the cells of one whole chunk region
    // (rows 0-1 × cols 4-5 of the ARRAY = max-y rows) → that chunk file
    // must be absent and read back as fill_value NaN
    val grid = (for { yi <- 0 until 4; xi <- 0 until 6
      if !(yi <= 1 && xi >= 4) }
      yield (xi.toDouble, 3.0 - yi, yi * 10.0 + xi)) // y desc = array row
      .toDF("x", "y", "value")
    val cube = DataCube.fromTable(grid, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
    val dir = java.nio.file.Files.createTempDirectory("graft_zw").toString
    graft.sources.ZarrWriter.writeGrid(cube, dir, chunkR = 2, chunkC = 4)
    val meta = ZarrReader.readMeta(dir)
    assert(meta.shape == Seq(4, 6) && meta.chunks == Seq(2, 4))
    assert(meta.fillValue.exists(_.isNaN))
    // the all-dropped chunk (rows 0-1, cols 4-7 → key "0.1") is absent
    assert(!new java.io.File(dir, "0.1").exists())
    assert(new java.io.File(dir, "0.0").exists())
    val back = ZarrReader.loadArray(spark, dir, Seq("r", "c")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(back.size == 24)
    for (r <- 0 until 4; c <- 0 until 6) {
      val v = back((r.toLong, c.toLong))
      if (r <= 1 && c >= 4) assert(v.isNaN, s"($r,$c)")
      else assert(v == r * 10.0 + c, s"($r,$c)")
    }
  }

  test("ZarrReader reads '/'-separated (nested-directory) chunk stores") {
    import graft.sources.ZarrReader
    val flat = writeZarrFixture()
    // rewrite the flat fixture as a nested store: "<i>.<j>" -> "<i>/<j>"
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr_n").toFile
    val zarray = java.nio.file.Files
      .readString(new java.io.File(flat, ".zarray").toPath)
      .replace(""""order":"C"}""", """"order":"C","dimension_separator":"/"}""")
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zarray").toPath, zarray)
    for (ci <- 0 until 2; cj <- 0 until 2) {
      val sub = new java.io.File(dir, ci.toString)
      sub.mkdirs()
      java.nio.file.Files.copy(
        new java.io.File(flat, s"$ci.$cj").toPath,
        new java.io.File(sub, cj.toString).toPath)
    }
    assert(ZarrReader.readMeta(dir.getAbsolutePath).separator == "/")
    val got = ZarrReader.loadArray(spark, dir.getAbsolutePath, Seq("r", "c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(got.size == 24)
    for (r <- 0 until 4; c <- 0 until 6)
      assert(got((r.toLong, c.toLong)) == r * 10.0 + c)
  }

  test("ZarrReader reads absent chunks as fill_value (sparse stores)") {
    import graft.sources.ZarrReader
    val dir = writeZarrFixture()
    // zarr writers omit all-fill chunks; drop the bottom-right chunk
    // (rows 2-3 × cols 4-5 in-bounds) and expect fill_value = 0.0 there
    assert(new java.io.File(dir, "1.1").delete())
    val got = ZarrReader.loadArray(spark, dir, Seq("r", "c")).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(got.size == 24) // full logical grid, no holes
    for (r <- 0 until 4; c <- 0 until 6) {
      val want = if (r >= 2 && c >= 4) 0.0 else r * 10.0 + c
      assert(got((r.toLong, c.toLong)) == want)
    }
    // a sparse store with NO declared fill_value is corrupt, not silent
    val zarray = new java.io.File(dir, ".zarray").toPath
    java.nio.file.Files.writeString(zarray,
      java.nio.file.Files.readString(zarray)
        .replace(""""fill_value":0.0""", """"fill_value":null"""))
    val e = intercept[IllegalArgumentException] {
      ZarrReader.loadArray(spark, dir, Seq("r", "c"))
    }
    assert(e.getMessage.contains("ZarrCorrupt"))
  }

  test("load_stac decodes REAL pixels for reachable zarr assets") {
    val dir = writeZarrFixture()
    val zItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-rz",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-09T10:18:03Z"},
         |"assets":{
         |  "b1":{"href":"file://$dir","type":"application/vnd+zarr"}
         |}}""".stripMargin
    val cube = StacLoader.loadCube(spark, StacLoader.parseItem(zItem))
    val rows = cube.df.collect()
    assert(rows.length == 24) // real shape, not the fake 8×8 grid
    // pixel (r=1, c=2) = 12.0 at x = west + 2·(1/6), y = south + 1·(1/4)
    val hit = rows.find(r => r.getDouble(4) == 12.0).get
    assert(math.abs(hit.getDouble(0) - (10.0 + 2.0 / 6)) < 1e-12)
    assert(math.abs(hit.getDouble(1) - 46.25) < 1e-12)
    assert(hit.getString(3) == "b1")
    // a MIXED catalog: the zarr asset decodes real, the COG stays faked
    val mixed = StacLoader.loadCube(spark,
      StacLoader.parseItem(zItem) ++ StacLoader.parseItem(item))
    assert(mixed.df.count() == 24 + 2 * 64)
  }

  def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** Hand-assemble a classic little-endian TIFF per the public 6.0 layout:
    * 6×4 float32 raster in 2 strips of 2 rows, v(r,c) = r*10 + c,
    * optionally deflate-compressed.
    */
  def writeTiffFixture(deflate: Boolean): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val (w, h, rps) = (6, 4, 2)
    val strips: Seq[Array[Byte]] = (0 until h by rps).map { r0 =>
      val bb = ByteBuffer.allocate(rps * w * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- r0 until r0 + rps; c <- 0 until w) bb.putFloat(r * 10f + c)
      if (deflate) deflateBytes(bb.array()) else bb.array()
    }
    val nStrips = strips.size
    val ifdSize = 2 + 9 * 12 + 4
    val offArr = 8 + ifdSize
    val cntArr = offArr + 4 * nStrips
    val data0 = cntArr + 4 * nStrips
    val stripOffsets = strips.scanLeft(data0.toLong)(_ + _.length).init
    val total = data0 + strips.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(9) // entry count; tags ascending per spec
    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value.toInt)
    }
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, 1, 32)
    entry(259, 3, 1, if (deflate) 8 else 1)
    entry(273, 4, nStrips, offArr)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rps)
    entry(279, 4, nStrips, cntArr)
    entry(339, 3, 1, 3)
    bb.putInt(0) // no next IFD
    stripOffsets.foreach(o => bb.putInt(o.toInt))
    strips.foreach(s => bb.putInt(s.length))
    strips.foreach(bb.put)
    val f = java.nio.file.Files.createTempFile("graft_tiff", ".tif")
    java.nio.file.Files.write(f, bb.array())
    f.toAbsolutePath.toString
  }

  test("load_stac decodes rank-3 (band,row,col) zarr into per-band cells") {
    // 2×2×3 uncompressed int32 store: v = b*100 + r*10 + c
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr3").toFile
    val zarray =
      """{"zarr_format":2,"shape":[2,2,3],"chunks":[1,2,3],"dtype":"<i4",
        |"compressor":null,"fill_value":0,"filters":null,"order":"C"}""".stripMargin
    java.nio.file.Files.writeString(new java.io.File(dir, ".zarray").toPath, zarray)
    for (b <- 0 until 2) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 3) bb.putInt(b * 100 + r * 10 + c)
      java.nio.file.Files.write(
        new java.io.File(dir, s"$b.0.0").toPath, bb.array())
    }
    val item3 =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-z3",
         |"bbox":[0.0,0.0,3.0,2.0],
         |"properties":{"datetime":"2023-06-11T00:00:00Z"},
         |"assets":{
         |  "refl":{"href":"file://${dir.getAbsolutePath}",
         |          "type":"application/vnd+zarr"}
         |}}""".stripMargin
    val cube = StacLoader.loadCube(spark, StacLoader.parseItem(item3))
    val rows = cube.df.collect()
    assert(rows.length == 12)
    assert(rows.map(_.getString(3)).toSet == Set("refl_0", "refl_1"))
    val hit = rows.find(r => r.getDouble(4) == 112.0).get // b=1, r=1, c=2
    assert(hit.getString(3) == "refl_1")
    assert(hit.getDouble(0) == 2.0 && hit.getDouble(1) == 1.0) // bbox-mapped
  }

  /** Write a gray-8 TIFF through the JDK's OWN TIFF encoder with the given
    * compression type — a reference encoder to validate our decoders
    * against (catches self-consistent-but-wrong codec bugs, e.g. the LZW
    * early-change off-by-one).
    */
  def writeJdkTiff(codec: String, w: Int, h: Int, px: (Int, Int) => Int): String = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(x, y))
    val file = java.nio.file.Files.createTempFile("graft_jdk", ".tif").toFile
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val ios = ImageIO.createImageOutputStream(file)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType(codec)
    writer.write(null, new IIOImage(img, null, null), p)
    ios.close(); writer.dispose()
    file.getAbsolutePath
  }

  test("TiffReader decodes LZW/PackBits/ZLib strips from the JDK's own encoder") {
    import graft.sources.TiffReader
    // large + noisy enough that LZW crosses the 9→10→11-bit width changes
    // and resets its table mid-stream (the early-change path a hand-rolled
    // self-consistent encoder would never exercise)
    val (w, h) = (96, 64)
    def px(x: Int, y: Int) = (y * 7 + x * 13) % 251
    for ((codec, comp) <- Seq("LZW" -> 5, "PackBits" -> 32773, "ZLib" -> 8)) {
      val path = writeJdkTiff(codec, w, h, px)
      val meta = TiffReader.readMeta(path)
      assert(meta.compression == comp, s"$codec → ${meta.compression}")
      val got = TiffReader.loadArray(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.size == w * h, codec)
      for (y <- 0 until h; x <- 0 until w)
        assert(got((y.toLong, x.toLong)) == px(x, y).toDouble, s"$codec ($x,$y)")
    }
  }

  test("TiffReader decodes JPEG-compressed strips through the JDK decoder") {
    import graft.sources.TiffReader
    // smooth gradient: JPEG is lossy, assert proximity not equality
    val (w, h) = (32, 32)
    def px(x: Int, y: Int) = 60 + x * 2 + y * 2
    val path = writeJdkTiff("JPEG", w, h, px)
    val meta = TiffReader.readMeta(path)
    assert(meta.compression == 7)
    val got = TiffReader.loadArray(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == w * h)
    for (y <- 0 until h; x <- 0 until w)
      assert(math.abs(got((y.toLong, x.toLong)) - px(x, y)) <= 6.0, s"($x,$y)")
  }

  /** Bilevel variant of [[writeJdkTiff]] for the CCITT fax codecs (the JDK
    * encoder only allows them on 1-bit images).
    */
  def writeJdkBilevelTiff(codec: String, w: Int, h: Int,
      white: (Int, Int) => Boolean): String = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, if (white(x, y)) 1 else 0)
    val file = java.nio.file.Files.createTempFile("graft_fax", ".tif").toFile
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val ios = ImageIO.createImageOutputStream(file)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType(codec)
    writer.write(null, new IIOImage(img, null, null), p)
    ios.close(); writer.dispose()
    file.getAbsolutePath
  }

  test("TiffReader decodes CCITT MH/G3/G4 fax strips from the JDK encoder") {
    import graft.sources.TiffReader
    // text-like bilevel content: black rectangles + a diagonal, wide white
    // margins — exercises long runs, makeup codes, and all 2-D modes
    val (w, h) = (72, 40)
    def white(x: Int, y: Int): Boolean =
      !((x > 8 && x < 30 && y > 5 && y < 12) ||        // block
        (x > 40 && x < 64 && y > 20 && y < 35) ||      // block
        (math.abs(x - y) < 2) ||                       // diagonal
        (y == 17))                                     // full-width line
    // plus seeded random speckle patterns: many short runs stress the
    // terminating-code tables and every 2-D mode transition
    val rnd = new scala.util.Random(42)
    val speckles = Seq.fill(2) {
      val bits = Array.fill(h, w)(rnd.nextInt(4) != 0) // 75% white
      (x: Int, y: Int) => bits(y)(x)
    }
    for (pattern <- white _ +: speckles;
         (codec, comp) <- Seq("CCITT RLE" -> 2, "CCITT T.4" -> 3,
           "CCITT T.6" -> 4)) {
      val path = writeJdkBilevelTiff(codec, w, h, pattern)
      val meta = TiffReader.readMeta(path)
      assert(meta.compression == comp, s"$codec → ${meta.compression}")
      assert(meta.bits == 1, codec)
      val got = TiffReader.loadArray(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.size == w * h, codec)
      // stored-bit semantics: black = 1 under WhiteIsZero(0), 0 under 1
      val blackVal = if (meta.photometric == 0) 1.0 else 0.0
      for (y <- 0 until h; x <- 0 until w) {
        val want = if (pattern(x, y)) 1.0 - blackVal else blackVal
        assert(got((y.toLong, x.toLong)) == want,
          s"$codec ($x,$y): got ${got((y.toLong, x.toLong))} want $want " +
            s"(photometric ${meta.photometric})")
      }
    }
  }

  test("CCITT hand-assembled streams: MH byte alignment, G4 V/H/P modes") {
    import graft.sources.TiffReader
    // bit-writer: pack code strings MSB-first
    def bits(s: String*): Array[Byte] = {
      val all = s.mkString
      val out = new Array[Byte]((all.length + 7) / 8)
      for (i <- all.indices if all(i) == '1')
        out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
      out
    }
    // MH (compression 2), width 8: each row white4 ("1011") black4 ("011"),
    // byte-aligned per row -> one byte per row
    val mh = bits("1011" + "011" + "0") ++ bits("1011" + "011" + "0")
    val rowsMh = TiffReader.ccittDecode(mh, 8, 2, 2, 0L, 1)
    assert(rowsMh.toSeq == Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1,
      0, 0, 0, 0, 1, 1, 1, 1))
    // G4 (compression 4), width 8, 3 rows:
    //  row0: Horizontal white4 black4          -> 001 1011 011
    //  row1: V0 at b1=4, V0 at b1=8 (run ends) -> 1 1
    //  row2: VR1 (black edge moves to 5), V0   -> 011 1
    //  then EOFB
    val g4 = bits("001" + "1011" + "011", "11", "011" + "1",
      "000000000001" + "000000000001")
    val rowsG4 = TiffReader.ccittDecode(g4, 8, 3, 4, 0L, 1)
    assert(rowsG4.toSeq == Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1,
      0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0, 0, 1, 1, 1))
    // FillOrder 2: the same MH stream with every byte's bits reversed
    val mhRev = mh.map(b => (Integer.reverse(b & 0xff) >>> 24).toByte)
    assert(TiffReader.ccittDecode(mhRev, 8, 2, 2, 0L, 2).toSeq ==
      rowsMh.toSeq)
    // G3 1-D (compression 3): EOL-separated rows; a SHORT strip (2 encoded
    // rows, maxRows=3) must leave the undecoded row white instead of
    // tripping the run decoder on the byte-padding zeros; trailing RTC
    // EOLs must also terminate cleanly
    val eol = "000000000001"
    val g3 = bits(eol + "1011" + "011", eol + "1011" + "011", "0000")
    assert(TiffReader.ccittDecode(g3, 8, 3, 3, 0L, 1).toSeq ==
      Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0, 1, 1, 1, 1,
        0, 0, 0, 0, 0, 0, 0, 0))
    val g3rtc = bits(eol + "1011" + "011", eol + eol + eol + eol + eol + eol)
    assert(TiffReader.ccittDecode(g3rtc, 8, 3, 3, 0L, 1).toSeq ==
      Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0))
    // G3 2-D (T4Options bit 0): EOL + tag bit per row — tag 1 = 1-D row,
    // tag 0 = 2-D row coded against the line above (here: V0 at the
    // black edge, V0 at the run end — same codes as the G4 fixture row)
    val g32d = bits(eol + "1" + "1011" + "011", eol + "0" + "11")
    assert(TiffReader.ccittDecode(g32d, 8, 2, 3, 1L, 1).toSeq ==
      Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0, 1, 1, 1, 1))
  }

  test("CCITT T.6 uncompressed-mode extension: literal pels, exit color") {
    import graft.sources.TiffReader
    def bits(s: String*): Array[Byte] = {
      val all = s.mkString
      val out = new Array[Byte]((all.length + 7) / 8)
      for (i <- all.indices if all(i) == '1')
        out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
      out
    }
    val enter = "0000001111" // extension code, xxx=111
    val eofb = "000000000001" + "000000000001"
    // width 8, one fully-uncompressed row: pels 01001101 coded as
    // "01" (white,black) "001" (2 whites,black) "1" (black) "01" + exit t=0
    val u1 = bits(enter + "01" + "001" + "1" + "01" + "0000001" + "0", eofb)
    assert(TiffReader.ccittDecode(u1, 8, 1, 4, 0L, 1).toSeq ==
      Seq[Byte](0, 1, 0, 0, 1, 1, 0, 1))
    // entry mid-row, exit resumes 2-D coding with color = t:
    //  row0: Horizontal white4 black4 (00001111)
    //  row1: V0 (edge at 4, color flips to black) then uncompressed
    //        "1" "1" "01" → pels 1,1,0,1 at cols 4-7, exit t=0
    val u2 = bits("001" + "1011" + "011",
      "1" + enter + "1" + "1" + "01" + "0000001" + "0", eofb)
    assert(TiffReader.ccittDecode(u2, 8, 2, 4, 0L, 1).toSeq ==
      Seq[Byte](0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0, 1, 1, 0, 1))
    // "000001" = five white pels with no trailing black
    val u3 = bits(enter + "000001" + "001" + "0000001" + "0", eofb)
    assert(TiffReader.ccittDecode(u3, 8, 1, 4, 0L, 1).toSeq ==
      Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    // undefined extension (xxx != 111) stays a typed error
    val bad = bits("0000001101" + "1")
    val e = intercept[IllegalArgumentException] {
      TiffReader.ccittDecode(bad, 8, 1, 4, 0L, 1)
    }
    assert(e.getMessage.contains("extension"))
  }

  test("TiffReader decodes old-style JPEG(6) via the interchange stream") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    // gray gradient → JFIF bytes through the JDK encoder
    val (w, h) = (24, 16)
    def px(x: Int, y: Int) = 50 + x * 4 + y * 3
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(x, y))
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", jb)
    val jpeg = jb.toByteArray
    // classic TIFF, compression 6, JPEGInterchangeFormat(513)/Length(514)
    val nE = 8
    val dataOff = 8 + 2 + nE * 12 + 4
    val bb = ByteBuffer.allocate(dataOff + jpeg.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(nE.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      typ match {
        case 3 => bb.putShort(value.toShort).putShort(0)
        case _ => bb.putInt(value.toInt)
      }
    }
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, 6)
    entry(262, 3, 1, 1)
    entry(277, 3, 1, 1)
    entry(513, 4, 1, dataOff)
    entry(514, 4, 1, jpeg.length)
    bb.putInt(0) // no next IFD
    bb.put(jpeg)
    val f = java.nio.file.Files.createTempFile("graft_oldjpeg", ".tif")
    java.nio.file.Files.write(f, bb.array())
    val meta = TiffReader.readMeta(f.toAbsolutePath.toString)
    assert(meta.compression == 6 && meta.segments.size == 1 &&
      meta.tileWidth == w && meta.tileHeight == h)
    val got = TiffReader.loadArray(spark, f.toAbsolutePath.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == w * h)
    // plumbing is exact: equals the JDK's decode of the same JFIF bytes;
    // codec is lossy: near the original gradient
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpeg)).getRaster
    for (y <- 0 until h; x <- 0 until w) {
      assert(got((y.toLong, x.toLong)) == ref.getSampleDouble(x, y, 0), s"($x,$y)")
      assert(math.abs(got((y.toLong, x.toLong)) - px(x, y)) <= 6.0, s"($x,$y)")
    }
    // the scattered-tables variant (no tag 513) stays a typed error
    val bb2 = ByteBuffer.allocate(8 + 2 + 6 * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
    bb2.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb2.putShort(6.toShort)
    def entry2(tag: Int, value: Long): Unit = {
      bb2.putShort(tag.toShort).putShort(3.toShort).putInt(1)
      bb2.putShort(value.toShort).putShort(0)
    }
    entry2(256, w); entry2(257, h); entry2(258, 8); entry2(259, 6)
    entry2(262, 1); entry2(277, 1)
    bb2.putInt(0)
    val f2 = java.nio.file.Files.createTempFile("graft_oldjpeg_bad", ".tif")
    java.nio.file.Files.write(f2, bb2.array())
    val e = intercept[IllegalArgumentException] {
      TiffReader.readMeta(f2.toAbsolutePath.toString)
    }
    assert(e.getMessage.contains("JPEGInterchangeFormat"))
  }

  test("PackBits decode rules: literals, runs, -128 noop") {
    import graft.sources.TiffReader
    val in = Array[Byte](2, 'a', 'b', 'c', -3, 'x', -128, 0, 'z')
    assert(new String(TiffReader.packbitsDecode(in), "US-ASCII") == "abcxxxxz")
  }

  test("TiffReader walks a BigTIFF: 16-byte header, 20-byte entries, LONG8") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    val (w, h) = (5, 4)
    val strip = {
      val bb = ByteBuffer.allocate(w * h * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until h; c <- 0 until w) bb.putFloat(r * 10f + c)
      bb.array()
    }
    val nE = 8
    val ifdOff = 16L
    val dataOff = 16 + 8 + nE * 20 + 8
    val bb = ByteBuffer.allocate(dataOff + strip.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
    bb.putLong(ifdOff)
    bb.putLong(nE)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putLong(count)
      typ match {
        case 3 => bb.putShort(value.toShort).putShort(0).putInt(0)
        case 16 => bb.putLong(value)
        case _ => bb.putInt(value.toInt).putInt(0)
      }
    }
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, 1, 32)
    entry(259, 3, 1, 1)
    entry(273, 16, 1, dataOff) // StripOffsets as LONG8, inline
    entry(278, 3, 1, h)
    entry(279, 16, 1, strip.length)
    entry(339, 3, 1, 3)
    bb.putLong(0) // no next IFD
    bb.put(strip)
    val f = java.nio.file.Files.createTempFile("graft_bigtiff", ".tif")
    java.nio.file.Files.write(f, bb.array())
    val meta = TiffReader.readMeta(f.toAbsolutePath.toString)
    assert(meta.width == w && meta.height == h && meta.bits == 32 &&
      meta.sampleFormat == 3 && meta.segments.size == 1)
    val got = TiffReader.loadArray(spark, f.toAbsolutePath.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == w * h)
    for (r <- 0 until h; c <- 0 until w)
      assert(got((r.toLong, c.toLong)) == r * 10.0 + c)
  }

  test("TiffReader decodes planar (band-separate) multi-band rasters") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    // 4×3 ×3-band uint8, PlanarConfiguration=2: one strip per band,
    // band-major segment table; v = r*60 + c*10 + band
    val (w, h, spp) = (4, 3, 3)
    def v(r: Int, c: Int, b: Int) = r * 60 + c * 10 + b
    val bandStrips = (0 until spp).map { b =>
      val a = new Array[Byte](w * h)
      for (r <- 0 until h; c <- 0 until w) a(r * w + c) = v(r, c, b).toByte
      a
    }
    val nE = 9
    val ifdSize = 2 + nE * 12 + 4
    val bitsOff = 8 + ifdSize
    val offArr = bitsOff + 6
    val cntArr = offArr + 4 * spp
    val data0 = cntArr + 4 * spp
    val bb = ByteBuffer.allocate(data0 + spp * w * h)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(nE.toShort)
    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value.toInt)
    }
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, 3, bitsOff) // [8,8,8], out of line
    entry(259, 3, 1, 1)
    entry(273, 4, spp, offArr)
    entry(277, 3, 1, spp)
    entry(278, 3, 1, h)
    entry(279, 4, spp, cntArr)
    entry(284, 3, 1, 2) // planar
    bb.putInt(0)
    for (_ <- 0 until spp) bb.putShort(8)
    for (b <- 0 until spp) bb.putInt(data0 + b * w * h)
    for (_ <- 0 until spp) bb.putInt(w * h)
    bandStrips.foreach(bb.put)
    val f = java.nio.file.Files.createTempFile("graft_planar", ".tif")
    java.nio.file.Files.write(f, bb.array())
    val meta = TiffReader.readMeta(f.toAbsolutePath.toString)
    assert(meta.planar && meta.samplesPerPixel == 3 && meta.segments.size == 3)
    val got = TiffReader.loadArrayBands(spark, f.toAbsolutePath.toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    assert(got.size == w * h * spp)
    for (r <- 0 until h; c <- 0 until w; b <- 0 until spp)
      assert(got((r.toLong, c.toLong, b)) == v(r, c, b).toDouble)
  }

  test("load_stac composes projection/resolution/resampling at the loader") {
    import org.apache.spark.sql.functions._
    val path = writeTiffFixture(deflate = false) // 6×4, v = r*10 + c
    val item =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-args",
         |"bbox":[0.0,0.0,6.0,4.0],
         |"properties":{"datetime":"2023-06-15T00:00:00Z"},
         |"assets":{
         |  "b":{"href":"file://$path",
         |       "type":"image/tiff; application=geotiff"}
         |}}""".stripMargin
    val assets = StacLoader.parseItem(item)
    // resolution + resampling: decode at native 1°, regrid to 2° averages
    val c = StacLoader.loadCube(spark, assets,
      resolution = Some(2.0), resampling = "average")
    val got = c.df.select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (bx <- Seq(0.0, 2.0, 4.0); by <- Seq(0.0, 2.0))
      assert(got((bx, by)) == by * 10 + bx + 5.5) // mean of the 2×2 bin
    // projection: the loader warps to the target CRS
    val m = StacLoader.loadCube(spark, assets, projection = Some("EPSG:3857"))
    assert(m.meta.crs.contains("EPSG:3857"))
    assert(m.df.count() == 24)
    val xMax = m.df.agg(max(col("x"))).collect()(0).getDouble(0)
    assert(xMax > 500000.0) // 5° lon ≈ 557 km in web-mercator metres
  }

  test("TiffReader decodes strip TIFFs, uncompressed and deflate") {
    import graft.sources.TiffReader
    for (deflate <- Seq(false, true)) {
      val path = writeTiffFixture(deflate)
      val meta = TiffReader.readMeta(path)
      assert(meta.width == 6 && meta.height == 4 && meta.bits == 32 &&
        meta.sampleFormat == 3 && meta.segments.size == 2)
      val got = TiffReader.loadArray(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.size == 24)
      for (r <- 0 until 4; c <- 0 until 6)
        assert(got((r.toLong, c.toLong)) == r * 10.0 + c)
    }
  }

  test("TiffReader decodes tiled (COG-style) layout with edge-pad clipping") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    val (w, h, tw, th) = (18, 20, 16, 16)
    val (across, down) = (2, 2)
    val tiles = for (ti <- 0 until down; tj <- 0 until across) yield {
      val bb = ByteBuffer.allocate(tw * th * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until th; c <- 0 until tw) {
        val (gr, gc) = (ti * th + r, tj * tw + c)
        bb.putFloat(if (gr < h && gc < w) gr * 100f + gc else -1f)
      }
      bb.array()
    }
    val ifdSize = 2 + 10 * 12 + 4
    val offArr = 8 + ifdSize
    val cntArr = offArr + 4 * tiles.size
    val data0 = cntArr + 4 * tiles.size
    val tileOffsets = tiles.scanLeft(data0.toLong)(_ + _.length).init
    val bb = ByteBuffer.allocate(data0 + tiles.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(10)
    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value.toInt)
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 32)
    entry(259, 3, 1, 1); entry(277, 3, 1, 1)
    entry(322, 3, 1, tw); entry(323, 3, 1, th)
    entry(324, 4, tiles.size, offArr); entry(325, 4, tiles.size, cntArr)
    entry(339, 3, 1, 3)
    bb.putInt(0)
    tileOffsets.foreach(o => bb.putInt(o.toInt))
    tiles.foreach(t => bb.putInt(t.length))
    tiles.foreach(bb.put)
    val f = java.nio.file.Files.createTempFile("graft_cog", ".tif")
    java.nio.file.Files.write(f, bb.array())

    val got = TiffReader.loadArray(spark, f.toAbsolutePath.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == w * h) // tile padding clipped
    assert(!got.values.exists(_ == -1.0)) // no pad value leaked
    for ((r, c) <- Seq((0, 0), (15, 17), (19, 0), (19, 17), (16, 16)))
      assert(got((r.toLong, c.toLong)) == r * 100.0 + c)
  }

  test("TiffReader decodes chunky multi-band rasters per (row,col,band)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    // 4×3 RGB uint8, single strip, chunky interleave: v = r*100 + c*10 + band
    val (w, h, spp) = (4, 3, 3)
    val ifdSize = 2 + 10 * 12 + 4
    val stripOff = 8 + ifdSize
    val bb = ByteBuffer.allocate(stripOff + w * h * spp)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(10)
    def entry(tag: Int, typ: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) bb.putShort(value.toShort).putShort(0) else bb.putInt(value.toInt)
    }
    entry(256, 3, w); entry(257, 3, h); entry(258, 3, 8); entry(259, 3, 1)
    entry(273, 4, stripOff); entry(277, 3, spp); entry(278, 3, h)
    entry(279, 4, w * h * spp); entry(284, 3, 1); entry(339, 3, 1)
    bb.putInt(0)
    for (r <- 0 until h; c <- 0 until w; s <- 0 until spp)
      bb.put((r * 100 + c * 10 + s).toByte)
    val f = java.nio.file.Files.createTempFile("graft_rgb", ".tif")
    java.nio.file.Files.write(f, bb.array())
    val path = f.toAbsolutePath.toString

    assert(TiffReader.readMeta(path).samplesPerPixel == 3)
    intercept[IllegalArgumentException] { // single-band API refuses
      TiffReader.loadArray(spark, path)
    }
    val got = TiffReader.loadArrayBands(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == w * h * spp)
    for (r <- 0 until h; c <- 0 until w; s <- 0 until spp)
      assert(got((r.toLong, c.toLong, s)) == r * 100.0 + c * 10 + s)

    // through load_stac: bands named <asset-band>_<index>
    val mItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-rgb",
         |"bbox":[0.0,0.0,4.0,3.0],
         |"properties":{"datetime":"2023-06-12T00:00:00Z"},
         |"assets":{
         |  "visual":{"href":"file://$path",
         |            "type":"image/tiff; application=geotiff"}
         |}}""".stripMargin
    val cube = StacLoader.loadCube(spark, StacLoader.parseItem(mItem))
    assert(cube.df.count() == w * h * spp)
    assert(cube.df.select("bands").distinct().collect()
      .map(_.getString(0)).toSet == Set("visual_0", "visual_1", "visual_2"))
  }

  test("TiffReader walks a COG overview pyramid (chained IFDs)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.TiffReader
    // two chained single-strip IFDs: level 0 = 6×4, level 1 = 3×2,
    // v = level*1000 + r*10 + c; strip offset/count inline (count = 1)
    val levels = Seq((6, 4), (3, 2))
    val ifdSize = 2 + 9 * 12 + 4
    val stripLens = levels.map { case (w, h) => w * h * 4 }
    val ifdOffsets = levels.indices.scanLeft(8L) { (acc, i) =>
      acc + ifdSize + stripLens(i)
    }
    val total = ifdOffsets.last.toInt
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    for ((((w, h), li), ifdOff) <- levels.zipWithIndex.zip(ifdOffsets.init)) {
      assert(bb.position() == ifdOff.toInt)
      val stripOff = ifdOff.toInt + ifdSize
      bb.putShort(9)
      def entry(tag: Int, typ: Int, value: Long): Unit = {
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
        if (typ == 3) bb.putShort(value.toShort).putShort(0) else bb.putInt(value.toInt)
      }
      entry(256, 3, w); entry(257, 3, h); entry(258, 3, 32); entry(259, 3, 1)
      entry(273, 4, stripOff); entry(277, 3, 1); entry(278, 3, h)
      entry(279, 4, w * h * 4); entry(339, 3, 3)
      bb.putInt(if (li == levels.size - 1) 0 else ifdOffsets(li + 1).toInt)
      for (r <- 0 until h; c <- 0 until w) bb.putFloat(li * 1000f + r * 10 + c)
    }
    val f = java.nio.file.Files.createTempFile("graft_pyr", ".tif")
    java.nio.file.Files.write(f, bb.array())
    val path = f.toAbsolutePath.toString

    val metas = TiffReader.readMetaAll(path)
    assert(metas.map(m => (m.width, m.height)) == Seq((6, 4), (3, 2)))
    val full = TiffReader.loadArray(spark, path).collect()
    assert(full.length == 24 && full.forall(_.getDouble(2) < 1000))
    val ov = TiffReader.loadArray(spark, path, level = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ov.size == 6)
    for (r <- 0 until 2; c <- 0 until 3)
      assert(ov((r.toLong, c.toLong)) == 1000.0 + r * 10 + c)
  }

  test("load_stac decodes REAL pixels for reachable GeoTIFF assets") {
    val path = writeTiffFixture(deflate = true)
    val tItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-rt",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{
         |  "red":{"href":"file://$path",
         |         "type":"image/tiff; application=geotiff; profile=cloud-optimized",
         |         "eo:bands":[{"name":"B04"}]}
         |}}""".stripMargin
    val cube = StacLoader.loadCube(spark, StacLoader.parseItem(tItem))
    val rows = cube.df.collect()
    assert(rows.length == 24) // real raster shape, not the fake 8×8 grid
    val hit = rows.find(r => r.getDouble(4) == 12.0).get // pixel (1, 2)
    assert(math.abs(hit.getDouble(0) - (10.0 + 2.0 / 6)) < 1e-12)
    assert(math.abs(hit.getDouble(1) - 46.25) < 1e-12)
    assert(hit.getString(3) == "B04")
  }

  test("loadCube produces a 4-D long-form cube with inferred dim types") {
    val cube = StacLoader.loadCube(spark, StacLoader.parseItem(item), gridSize = 4)
    assert(cube.df.count() == 2 * 16)
    assert(cube.meta.dimType("t") == DimType.Temporal)
    assert(cube.meta.dimType("bands") == DimType.Bands)
    assert(cube.meta.dimType("x") == DimType.Spatial)
    assert(cube.meta.crs.contains("EPSG:4326"))
  }

  // ---- chunk-grid extent pushdown (store-internal lazy slicing, the
  // engine's twin of dask's post-`odc.stac.load` slicing: a small-extent
  // read of a huge store must plan ONLY intersecting chunks) ----

  test("planChunks: a quarter-extent slice plans a quarter of the chunks") {
    import graft.sources.ZarrReader
    val meta = ZarrReader.ZarrMeta(shape = Seq(8, 8), chunks = Seq(2, 2),
      dtype = "<f8", compressor = None, order = "C", fillValue = Some(0.0))
    // full store: 4×4 = 16 chunks
    assert(ZarrReader.planChunks(meta, Nil).size == 16)
    // quarter extent (rows 0-3 × cols 0-3) → exactly 4 chunks, not 16
    val quarter = ZarrReader.planChunks(meta,
      Seq(Some((0L, 3L)), Some((0L, 3L))))
    assert(quarter.size == 4)
    assert(quarter.toSet == Set(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1)))
    // a single cell plans a single chunk
    assert(ZarrReader.planChunks(meta,
      Seq(Some((5L, 5L)), Some((6L, 6L)))).size == 1)
    // open dim (None) stays full along that axis only
    assert(ZarrReader.planChunks(meta, Seq(Some((0L, 1L)), None)).size == 4)
    // disjoint / inverted range plans nothing
    assert(ZarrReader.planChunks(meta,
      Seq(Some((9L, 12L)), None)).isEmpty)
    // mid-chunk bounds still include the boundary chunks
    assert(ZarrReader.planChunks(meta,
      Seq(Some((1L, 4L)), Some((3L, 3L)))).size == 3)
  }

  test("sliced zarr load equals the full load filtered; fan-out pruned") {
    import graft.sources.ZarrReader
    import org.apache.spark.sql.functions.col
    val dir = writeZarrFixture() // shape (4,6), chunks (2,4): 2×2 grid
    val slices = Seq(Some((1L, 2L)), Some((2L, 4L)))
    val sliced = ZarrReader.loadArray(spark, dir, Seq("r", "c"), slices)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val full = ZarrReader.loadArray(spark, dir, Seq("r", "c"))
      .filter(col("r").between(1, 2) && col("c").between(2, 4))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(sliced == full && sliced.size == 2 * 3)
    // the slice crosses all 4 chunks rows-wise but planning is exact:
    // a top-left-only slice plans ONE chunk of the four
    assert(ZarrReader.planChunks(ZarrReader.readMeta(dir),
      Seq(Some((0L, 1L)), Some((0L, 3L)))) == Seq(Seq(0, 0)))
  }

  test("planSegments prunes TIFF strips to the requested row range") {
    import graft.sources.TiffReader
    val path = writeTiffFixture(deflate = true)
    val meta = TiffReader.readMeta(path)
    assert(meta.segments.size > 1) // striped fixture
    val rows = Some((0L, meta.tileHeight - 1L)) // first strip only
    val pruned = TiffReader.planSegments(meta, rows, None)
    assert(pruned.map(_.index) == Seq(0)) // exactly the first strip
    // sliced read == full read filtered
    import org.apache.spark.sql.functions.col
    val sliced = TiffReader.loadArray(spark, path, rowRange = rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = TiffReader.loadArray(spark, path)
      .filter(col("row") <= meta.tileHeight - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sliced == full && sliced.nonEmpty)
  }

  test("load_stac bbox pushes to chunk ranges AND trims exactly") {
    import org.apache.spark.sql.functions.col
    val dir = writeZarrFixture() // 4 rows × 6 cols over the item bbox
    val zItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-bb",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{
         |  "store":{"href":"file://$dir","type":"application/vnd+zarr"}
         |}}""".stripMargin
    val assets = StacLoader.parseItem(zItem)
    val full = StacLoader.loadCube(spark, assets)
    // south-west quadrant: y in [46, 46.3], x in [10, 10.4]
    val bbox = Some((10.0, 46.0, 10.4, 46.3))
    val pushed = StacLoader.loadCube(spark, assets, bbox = bbox)
    val trimmed = full.df.filter(
      col("x").between(10.0, 10.4) && col("y").between(46.0, 46.3))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(3)) ->
        r.getDouble(4)).toMap
    assert(key(pushed.df) == key(trimmed))
    assert(pushed.df.count() == 2 * 3) // rows {0,1} × cols {0,1,2}
    // a disjoint bbox loads nothing (and plans no chunks)
    assert(StacLoader.loadCube(spark, assets,
      bbox = Some((50.0, 50.0, 51.0, 51.0))).df.count() == 0)
  }

  test("TIFF assets mount through the DSv2 facade; strips prune on filter") {
    import org.apache.spark.sql.functions.col
    val path = writeTiffFixture(deflate = false) // 6×4, 2 strips of 2 rows
    val tItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-tiff-v2",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{
         |  "B04":{"href":"file://$path",
         |    "type":"image/tiff; application=geotiff"}
         |}}""".stripMargin
    val assets = StacLoader.parseItem(tItem)
    val cube = StacLoader.loadCube(spark, assets)
    assert(CubeScans.plannedReads(cube.df) == 2, "one scan read per strip")
    val rows = cube.df.collect()
    assert(rows.length == 24)
    val got = rows.map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    for (r <- 0 until 4; c <- 0 until 6)
      assert(got((10.0 + c * (1.0 / 6), 46.0 + r * (1.0 / 4))) == r * 10.0 + c)
    // filter_bbox AFTER the load reaches the scan: rows {0,1} (+1 guard)
    // stay inside strip 0, so one strip of two is planned
    val cut = graft.operators.FilterOps.filterBbox(
      cube, west = 10.0, east = 11.0, south = 46.0, north = 46.2)
    assert(CubeScans.plannedReads(cut.df) == 1,
      "filter_bbox AFTER load_stac must prune TIFF strips")
    assert(cut.df.count() == 6) // row 0 only (y = 46.0)
    assert(cut.df.queryExecution.executedPlan.toString.contains("PushedExtent"))
    // band mismatch empties the scan without touching the raster
    assert(CubeScans.plannedReads(cube.df.filter(col("bands") === "NOPE")) == 0)
  }

  /** Rank-3 zarr store with a TIME axis: shape (8,2,3), chunks (2,2,3) →
    * 4 chunks, each holding two time slices. v(t,r,c) = t·100 + r·10 + c.
    */
  def writeZarrTimeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr_t").toFile
    val zarray =
      """{"zarr_format":2,"shape":[8,2,3],"chunks":[2,2,3],"dtype":"<f8",
        |"compressor":null,"fill_value":0.0,"filters":null,"order":"C"}"""
        .stripMargin
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zarray").toPath, zarray)
    for (ct <- 0 until 4) {
      val bb = java.nio.ByteBuffer.allocate(2 * 2 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (t <- 0 until 2; r <- 0 until 2; c <- 0 until 3)
        bb.putDouble((ct * 2 + t) * 100.0 + r * 10.0 + c)
      java.nio.file.Files.write(
        new java.io.File(dir, s"$ct.0.0").toPath, bb.array())
    }
    dir.getAbsolutePath
  }

  test("load_stac temporal_extent pushes to time-axis chunk ranges") {
    import graft.sources.ZarrReader
    import org.apache.spark.sql.functions.col
    val dir = writeZarrTimeFixture()
    val labels = (1 to 8).map(d => f"2023-06-0${d}T00:00:00Z")
    val zItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-time",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-01T00:00:00Z",
         |  "cube:dimensions":{
         |    "time":{"type":"temporal",
         |      "values":[${labels.map("\"" + _ + "\"").mkString(",")}]},
         |    "y":{"type":"spatial","axis":"y"},
         |    "x":{"type":"spatial","axis":"x"}}},
         |"assets":{
         |  "store":{"href":"file://$dir","type":"application/vnd+zarr"}
         |}}""".stripMargin
    val assets = StacLoader.parseItem(zItem)
    assert(assets.head.timeLabels == labels)
    val full = StacLoader.loadCube(spark, assets)
    assert(full.df.count() == 8 * 2 * 3)
    // every slice carries its OWN label as t, not the item datetime
    assert(full.df.select("t").distinct().count() == 8)
    // quarter-time window [06-03, 06-05) → labels {03,04} → indices
    // {2,3} → ONE chunk of the four planned (spec-counted)
    val meta = ZarrReader.readMeta(dir)
    assert(ZarrReader.planChunks(meta, Nil).size == 4)
    assert(ZarrReader.planChunks(meta,
      Seq(Some((2L, 3L)), None, None)).size == 1)
    val window = Some(("2023-06-03", "2023-06-05"))
    val pushed = StacLoader.loadCube(spark, assets, timeRange = window)
    val trimmed = full.df.filter(
      col("t") >= "2023-06-03" && col("t") < "2023-06-05")
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getTimestamp(2)) ->
        r.getDouble(4)).toMap
    assert(key(pushed.df) == key(trimmed))
    assert(pushed.df.count() == 2 * 2 * 3) // two slices of eight
    // open start bound; end exclusive at a label boundary
    val tail = StacLoader.loadCube(spark, assets,
      timeRange = Some(("", "2023-06-02")))
    assert(tail.df.count() == 1 * 2 * 3)
    // a disjoint window loads nothing (inverted slice plans no chunks)
    assert(StacLoader.loadCube(spark, assets,
      timeRange = Some(("2024-01-01", "2024-02-01"))).df.count() == 0)
    // bbox and time prune COMPOSE: one time chunk × the exact row/col cut
    val both = StacLoader.loadCube(spark, assets, bbox =
      Some((10.0, 46.0, 10.2, 46.4)), timeRange = window)
    assert(both.df.count() ==
      trimmed.filter(col("x").between(10.0, 10.2) &&
        col("y").between(46.0, 46.4)).count())
  }

  // ---- HTTP API search over the injectable transport (recorded
  // fixtures — no network; pins the SEARCH-PARAMETER PUSHDOWN of
  // cubes/load.py:111-161 on the actual HTTP code path) ----

  /** Canned request→response transport that records every URL asked. */
  private class FixtureTransport(fixtures: Map[String, String])
      extends graft.sources.StacHttp.StacTransport {
    val requests = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(url: String): String = {
      requests += url
      fixtures.getOrElse(url,
        throw new IllegalStateException(s"unexpected request: $url"))
    }
  }

  private def featurePage(items: Seq[String], next: Option[String]): String = {
    val links = next.map(n =>
      s"""{"rel":"next","href":"$n"}""").getOrElse("")
    s"""{"type":"FeatureCollection",
       |"features":[${items.mkString(",")}],
       |"links":[$links]}""".stripMargin
  }

  test("HTTP search: collection URL → parent catalog + pushed parameters") {
    import graft.sources.StacHttp
    val (root, coll) = StacHttp.parentCatalog(
      "https://stac.example/api/v1/collections/sentinel-2-l2a")
    assert(root == "https://stac.example/api/v1")
    assert(coll.contains("sentinel-2-l2a"))
    // a catalog root passes through with no collection filter
    assert(StacHttp.parentCatalog("https://stac.example/api/v1") ==
      ("https://stac.example/api/v1", None))

    val url = StacHttp.searchUrl("https://stac.example/api/v1",
      Seq("sentinel-2-l2a"),
      bbox = Some((3.0, 43.0, 18.0, 51.0)),
      timeRange = Some(("2023-06-01T00:00:00Z", "2023-07-01T00:00:00Z")),
      properties = Map("eo:cloud_cover" -> Seq(("lt", "50")),
        "platform" -> Seq(("eq", "sentinel-2a"))),
      limit = 100)
    // every openEO load filter must be IN the request — server-side
    // pruning is the point of the search pushdown
    assert(url.startsWith("https://stac.example/api/v1/search?"), url)
    assert(url.contains("collections=sentinel-2-l2a"), url)
    assert(url.contains("bbox=3.0,43.0,18.0,51.0"), url)
    assert(url.contains("datetime=" + java.net.URLEncoder.encode(
      "2023-06-01T00:00:00Z/2023-07-01T00:00:00Z", "UTF-8")), url)
    // the query extension rides as url-encoded JSON, numerics unquoted —
    // the exact structure the reference forwards as query_params["query"]
    val q = """{"eo:cloud_cover":{"lt":50},"platform":{"eq":"sentinel-2a"}}"""
    assert(url.contains("query=" + java.net.URLEncoder.encode(q, "UTF-8")), url)
    assert(url.contains("limit=100"), url)
    // open temporal bounds map to STAC's ".."
    val open = StacHttp.searchUrl("https://x", Nil, None,
      Some(("", "2024-01-01")), Map.empty, 10)
    assert(open.contains("datetime=" +
      java.net.URLEncoder.encode("../2024-01-01", "UTF-8")), open)
    // strict JSON-number gate: Java's double parser accepts "7d" /
    // "Infinity" / "NaN", which unquoted would be invalid JSON — they
    // must emit as strings; real numbers stay bare
    assert(StacHttp.queryJson(Map("p" -> Seq(("eq", "7d")))) ==
      """{"p":{"eq":"7d"}}""")
    assert(StacHttp.queryJson(Map("p" -> Seq(("eq", "Infinity")))) ==
      """{"p":{"eq":"Infinity"}}""")
    assert(StacHttp.queryJson(Map("p" -> Seq(("lt", "50"),
      ("gte", "1.5e-3")))) == """{"p":{"lt":50,"gte":1.5e-3}}""")
  }

  test("HTTP search: paged item fetch parses assets and follows rel=next") {
    import graft.sources.StacHttp
    val page1Url = StacHttp.searchUrl("https://stac.example/api",
      Seq("s2"), Some((10.0, 46.0, 11.0, 47.0)),
      Some(("2023-06-01", "2023-07-01")),
      Map("eo:cloud_cover" -> Seq(("lt", "50"))), 1)
    // rel=next as a RELATIVE href (servers may return those): the walker
    // must resolve it against the page it just fetched before the live
    // transport's URI builder sees it
    val page2Url = "https://stac.example/api/search?page=2"
    val t = new FixtureTransport(Map(
      page1Url -> featurePage(Seq(item), Some("/api/search?page=2")),
      page2Url -> featurePage(Seq(zarrItem), None)))
    val assets = StacHttp.searchItems(t,
      "https://stac.example/api/collections/s2",
      bbox = Some((10.0, 46.0, 11.0, 47.0)),
      timeRange = Some(("2023-06-01", "2023-07-01")),
      properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))),
      limit = 1)
    // both pages fetched, in order, nothing else
    assert(t.requests.toSeq == Seq(page1Url, page2Url))
    // same parse as the static-catalog path: item-1 contributes its two
    // eo:bands raster assets (thumbnail dropped), item-z its zarr store
    assert(assets.map(a => (a.itemId, a.band)).sorted ==
      Seq(("item-1", "B02"), ("item-1", "B04"), ("item-z", "store")))
    assert(assets.forall(_.west == 10.0))
    // the parsed rows compose with the client-side authoritative cut
    val pruned = StacLoader.filterAssets(assets,
      properties = Map("eo:cloud_cover" -> Seq(("lt", "20"))))
    assert(pruned.map(_.itemId).distinct == Seq("item-1"))
    // the page cap refuses loudly instead of truncating silently
    val loop = new FixtureTransport(Map(
      page1Url -> featurePage(Seq(item), Some(page1Url))))
    val ex = intercept[IllegalArgumentException] {
      StacHttp.searchItems(loop, "https://stac.example/api/collections/s2",
        bbox = Some((10.0, 46.0, 11.0, 47.0)),
        timeRange = Some(("2023-06-01", "2023-07-01")),
        properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))),
        limit = 1, maxPages = 3)
    }
    assert(ex.getMessage.contains("pages"))
  }

  test("HTTP search: the LIVE JDK transport drives a loopback server " +
      "end-to-end (redirect, paging, Accept, non-2xx gate)") {
    import graft.sources.StacHttp
    // the one code path the fixture specs can't reach:
    // HttpStacTransport itself (redirect following, status gate, header,
    // body read) — exercised against a real socket via the JDK's own
    // in-process HttpServer, zero external network
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val accepts = scala.collection.mutable.ArrayBuffer.empty[String]
    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: String, headers: (String, String)*): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    try {
      server.createContext("/api/search",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          accepts += String.valueOf(ex.getRequestHeaders.getFirst("Accept"))
          val q = String.valueOf(ex.getRequestURI.getRawQuery)
          if (q.contains("page=2")) respond(ex, 200,
            featurePage(Seq(zarrItem), None),
            "Content-Type" -> "application/geo+json")
          else respond(ex, 200,
            // RELATIVE rel=next — the walker resolves it against the
            // page URL before the live transport sees it
            featurePage(Seq(item), Some("/api/search?page=2")),
            "Content-Type" -> "application/geo+json")
        })
      // a legacy root that 302-redirects /old/search to the real API —
      // Redirect.NORMAL must follow it transparently
      server.createContext("/old/search",
        (ex: com.sun.net.httpserver.HttpExchange) => respond(ex, 302, "",
          "Location" -> s"/api/search?${ex.getRequestURI.getRawQuery}"))
      server.createContext("/gone",
        (ex: com.sun.net.httpserver.HttpExchange) =>
          respond(ex, 404, "not here"))
      server.start()
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val live = new StacHttp.HttpStacTransport

      val assets = StacHttp.searchItems(live, s"$base/old/collections/s2",
        bbox = Some((10.0, 46.0, 11.0, 47.0)),
        timeRange = Some(("2023-06-01", "2023-07-01")),
        properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))),
        limit = 1)
      // page 1 arrived THROUGH the redirect, page 2 through the resolved
      // relative next; both parsed by the same parseItem path
      assert(assets.map(a => (a.itemId, a.band)).sorted ==
        Seq(("item-1", "B02"), ("item-1", "B04"), ("item-z", "store")))
      // the Accept header the transport promises actually hit the wire
      assert(accepts.nonEmpty && accepts.forall(_ == "application/geo+json"),
        accepts.mkString(","))
      // non-2xx fails loudly with the status in the message
      val err = intercept[IllegalArgumentException] {
        live.get(s"$base/gone")
      }
      assert(err.getMessage.contains("404"), err.getMessage)
    } finally server.stop(0)
  }
}
