package graft

import graft.CubeScans.plannedReads
import graft.sources.{StacLoader, ZarrReader}
import graft.sources.v2.CubeSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSourceV2 facade over zarr stores: extent predicates pushed by
  * CATALYST (not loader arguments) must prune the chunk fan-out — the
  * scan description's planned read count (`reads=`) IS the planned chunk
  * count, so pruning is observable as [[CubeScans.plannedReads]]. Covers rank-2, band-axis and time-axis
  * layouts, filters applied AFTER loading, column pruning, and the
  * load_stac → filter_bbox graph ordering the facade exists for.
  */
class ZarrCubeSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  /** Uncompressed rank-2 store: shape (4,6), chunks (2,3) → 2×2 grid,
    * v(r,c) = r*10 + c.
    */
  private def writeRank2(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_v2z").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zarray").toPath,
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,3],"dtype":"<f8",
        |"compressor":null,"fill_value":0.0,"filters":null,"order":"C"}"""
        .stripMargin)
    for (ci <- 0 until 2; cj <- 0 until 2) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 3)
        bb.putDouble((ci * 2 + r) * 10.0 + (cj * 3 + c))
      java.nio.file.Files.write(
        new java.io.File(dir, s"$ci.$cj").toPath, bb.array())
    }
    dir.getAbsolutePath
  }

  /** Rank-3 store: shape (4,2,3), chunks (1,2,3) → 4 axis-0 chunks,
    * v(b,r,c) = b*100 + r*10 + c. Band axis unless time labels say else.
    */
  private def writeRank3(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_v2z3").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, ".zarray").toPath,
      """{"zarr_format":2,"shape":[4,2,3],"chunks":[1,2,3],"dtype":"<f8",
        |"compressor":null,"fill_value":0.0,"filters":null,"order":"C"}"""
        .stripMargin)
    for (cb <- 0 until 4) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 3)
        bb.putDouble(cb * 100.0 + r * 10.0 + c)
      java.nio.file.Files.write(
        new java.io.File(dir, s"$cb.0.0").toPath, bb.array())
    }
    dir.getAbsolutePath
  }

  private def read(path: String, band: String = "B04",
      labels: Seq[String] = Nil): DataFrame =
    CubeSource.frame(spark, Seq(CubeSource.zarr(path, 10.0, 46.0, 11.0,
      47.0, band, "2023-06-10T10:00:00Z", labels)))

  test("full rank-2 read: cube coordinates and values; one read per chunk") {
    val df = read(writeRank2())
    assert(plannedReads(df) == 4) // 2×2 chunk grid
    val rows = df.collect()
    assert(rows.length == 24)
    val got = rows.map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    // v(r,c) at x = west + c*(1/6), y = south + r*(1/4)
    for (r <- 0 until 4; c <- 0 until 6)
      assert(got((10.0 + c * (1.0 / 6), 46.0 + r * (1.0 / 4))) == r * 10.0 + c)
    assert(rows.forall(_.getString(3) == "B04"))
    assert(rows.forall(_.getTimestamp(2) ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-06-10T10:00:00Z"))))
  }

  test("x/y filters applied AFTER load prune chunks via pushdown") {
    val df = read(writeRank2())
    // south-west corner: the ±1-cell guard keeps the hull inside the
    // first (2,3) chunk — cols 0..2, rows 0..1
    val q = df.filter(col("x") <= 10.2 && col("y") <= 46.2)
    assert(plannedReads(q) == 1, "one chunk of four planned")
    val want = df.collect().filter(r => r.getDouble(0) <= 10.2 && r.getDouble(1) <= 46.2)
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    val got = q.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    assert(got == want && got.nonEmpty)
    // pushdown is visible in the executed plan
    assert(q.queryExecution.executedPlan.toString.contains("PushedExtent"),
      "scan description must advertise the pushed extent")
    // a disjoint extent plans nothing at all
    assert(plannedReads(df.filter(col("x") > 50.0)) == 0)
  }

  test("time-axis: a temporal filter AFTER load prunes axis-0 chunks") {
    val labels = (1 to 4).map(d => s"2023-06-0${d}T00:00:00Z")
    val df = read(writeRank3(), labels = labels)
    assert(plannedReads(df) == 4)
    // each slice carries its own label
    assert(df.select("t").distinct().count() == 4)
    val q = df.filter(col("t") >= to_timestamp(lit("2023-06-02")) &&
      col("t") < to_timestamp(lit("2023-06-03")))
    assert(plannedReads(q) == 1, "one time chunk of four")
    val got = q.collect()
    assert(got.length == 6 && got.forall(_.getDouble(4) >= 100.0) &&
      got.forall(_.getDouble(4) < 200.0))
    // constant-datetime mismatch on a rank-2 store empties the scan
    val flat = read(writeRank2())
    assert(plannedReads(
      flat.filter(col("t") >= to_timestamp(lit("2024-01-01")))) == 0)
  }

  test("band-axis: filter bands = one band name prunes axis-0 chunks") {
    val df = read(writeRank3()) // no labels → band axis, bands B04_<i>
    assert(df.select("bands").distinct().count() == 4)
    val q = df.filter(col("bands") === "B04_2")
    assert(plannedReads(q) == 1)
    val got = q.collect()
    assert(got.length == 6 && got.forall(r =>
      r.getDouble(4) >= 200.0 && r.getDouble(4) < 300.0))
    assert(plannedReads(df.filter(col("bands") === "NOPE")) == 0)
  }

  test("column pruning reaches the scan; value-only aggregate works") {
    val df = read(writeRank2())
    val s = df.agg(sum("value")).collect()(0).getDouble(0)
    assert(s == (0 until 4).flatMap(r => (0 until 6).map(c => r * 10.0 + c)).sum)
  }

  test("load_stac then filter_bbox (graph order) prunes chunks") {
    val dir = writeRank2()
    val zItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-v2",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{
         |  "store":{"href":"file://$dir","type":"application/vnd+zarr"}
         |}}""".stripMargin
    val assets = StacLoader.parseItem(zItem)
    val loaded = StacLoader.loadCube(spark, assets) // NO extent at load
    assert(plannedReads(loaded.df) == 4)
    val cut = graft.operators.FilterOps.filterBbox(
      loaded, west = 10.0, east = 10.2, south = 46.0, north = 46.2)
    assert(plannedReads(cut.df) == 1,
      "filter_bbox AFTER load_stac must reach the scan and prune chunks")
    assert(cut.df.count() == 2 * 1) // cols {0,1} × row {0}
    assert(cut.df.queryExecution.executedPlan.toString.contains("PushedExtent"))
    // and filter_temporal after load on a time-axis store
    val labels = (1 to 4).map(d => s"2023-06-0${d}T00:00:00Z")
    val tItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-v2t",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-01T00:00:00Z",
         |  "cube:dimensions":{"time":{"type":"temporal",
         |    "values":[${labels.map("\"" + _ + "\"").mkString(",")}]}}},
         |"assets":{
         |  "store":{"href":"file://${writeRank3()}","type":"application/vnd+zarr"}
         |}}""".stripMargin
    val tLoaded = StacLoader.loadCube(spark, StacLoader.parseItem(tItem))
    assert(plannedReads(tLoaded.df) == 4)
    val tCut = graft.operators.FilterOps.filterTemporal(
      tLoaded, "2023-06-02", "2023-06-03")
    assert(plannedReads(tCut.df) == 1,
      "filter_temporal AFTER load_stac must prune time chunks")
    assert(tCut.df.count() == 6)
  }

  test("wire level: a load_stac → filter_bbox GRAPH prunes the scan") {
    val dir = writeRank2()
    val item = java.nio.file.Files.createTempFile("graft_v2item", ".json")
    java.nio.file.Files.writeString(item,
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-g",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{"store":{"href":"file://$dir",
         |  "type":"application/vnd+zarr"}}}""".stripMargin)
    val cat = java.nio.file.Files.createTempFile("graft_v2cat", ".json")
    java.nio.file.Files.writeString(cat,
      s"""{"id":"c","links":[{"rel":"item","href":"$item"}]}""")
    val g =
      s"""{"process_graph": {
         |  "ld": {"process_id": "load_stac",
         |         "arguments": {"url": "file://$cat"}},
         |  "bb": {"process_id": "filter_bbox",
         |         "arguments": {"data": {"from_node": "ld"},
         |                       "extent": [10.0, 10.2, 46.0, 46.2]},
         |         "result": true}}}""".stripMargin
    val cube = graft.plans.ProcessGraph.execute(spark, g,
      _ => fail("no collections in this graph"))
    assert(plannedReads(cube.df) == 1,
      "the openEO wire graph's post-load filter must prune chunks")
    assert(cube.df.count() == 2) // cols {0,1} × row {0}
  }

  test("filter_bands after load prunes band-axis chunks (In pushdown)") {
    val dir = writeRank3()
    val zItem =
      s"""{"type":"Feature","stac_version":"1.0.0","id":"item-fb",
         |"bbox":[10.0,46.0,11.0,47.0],
         |"properties":{"datetime":"2023-06-10T10:00:00Z"},
         |"assets":{"store":{"href":"file://$dir",
         |  "type":"application/vnd+zarr"}}}""".stripMargin
    val loaded = StacLoader.loadCube(spark, StacLoader.parseItem(zItem))
    assert(plannedReads(loaded.df) == 4)
    val cut = graft.operators.FilterOps.filterBands(
      loaded, Seq("store_1", "store_2"))
    assert(plannedReads(cut.df) == 2,
      "filter_bands AFTER load_stac must prune band-axis chunks")
    assert(cut.df.count() == 2 * 6)
  }

  test("scan reports post-pruning statistics (broadcastable extents)") {
    val df = read(writeRank2())
    def rows(d: org.apache.spark.sql.DataFrame): BigInt =
      d.queryExecution.optimizedPlan.stats.rowCount.getOrElse(
        BigInt(-1))
    def size(d: org.apache.spark.sql.DataFrame): BigInt =
      d.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rows(df) == 24, "full store: exact planned cell count")
    val cut = df.filter(col("x") <= 10.2 && col("y") <= 46.2)
    assert(size(cut) < size(df),
      "a pruned extent must report smaller stats — the broadcast signal")
  }

  test("parity: DSv2 rank-2 read equals ZarrReader.loadArray transform") {
    val dir = writeRank2()
    val viaV2 = read(dir).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    val viaLoader = ZarrReader.loadArray(spark, dir, Seq("_r", "_c"))
      .select(
        (lit(10.0) + col("_c") * ((11.0 - 10.0) / 6)).as("x"),
        (lit(46.0) + col("_r") * ((47.0 - 46.0) / 4)).as("y"),
        col("value"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(viaV2 == viaLoader)
  }
}
