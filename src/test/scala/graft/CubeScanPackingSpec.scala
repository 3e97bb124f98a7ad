package graft

import graft.sources.StacLoader
import graft.sources.StacLoader.StacAsset
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A load's planned chunk and strip reads pack into core-sized partitions
  * (Spark's file-scan rule), never merged past
  * `spark.sql.files.maxPartitionBytes`, and packing changes no row.
  * The raster has the benchmark's shape: 4 zarr stores of 2×3 chunks and
  * 4 TIFFs of 4 strips, 40 reads in all.
  */
class CubeScanPackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val (w, h) = (40, 32)

  private def cell(k: Int, r: Int, c: Int): Double = k * 1000.0 + r * 40 + c

  /** Uncompressed float64 zarr v2 store, chunks 16×16 → 2×3 chunk grid. */
  private def writeZarr(k: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pack_z").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, ".zarray").toPath,
      s"""{"zarr_format":2,"shape":[$h,$w],"chunks":[16,16],"dtype":"<f8",
         |"compressor":null,"fill_value":0.0,"filters":null,"order":"C"}"""
        .stripMargin)
    for (gr <- 0 until 2; gc <- 0 until 3) {
      val bb = java.nio.ByteBuffer.allocate(16 * 16 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 16; c <- 0 until 16) {
        val (gr0, gc0) = (gr * 16 + r, gc * 16 + c)
        bb.putDouble(if (gc0 < w) cell(k, gr0, gc0) else 0.0)
      }
      java.nio.file.Files.write(
        new java.io.File(dir, s"$gr.$gc").toPath, bb.array())
    }
    dir.getAbsolutePath
  }

  /** Uncompressed float32 strip TIFF, 8 rows per strip → 4 strips. */
  private def writeTiff(k: Int): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val rps = 8
    val strips = (0 until h by rps).map { r0 =>
      val bb = ByteBuffer.allocate(rps * w * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- r0 until r0 + rps; c <- 0 until w) bb.putFloat(cell(k, r, c).toFloat)
      bb.array()
    }
    val ifdSize = 2 + 9 * 12 + 4
    val offArr = 8 + ifdSize
    val cntArr = offArr + 4 * strips.size
    val data0 = cntArr + 4 * strips.size
    val bb = ByteBuffer.allocate(data0 + strips.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
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
    entry(259, 3, 1, 1)
    entry(273, 4, strips.size, offArr)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rps)
    entry(279, 4, strips.size, cntArr)
    entry(339, 3, 1, 3)
    bb.putInt(0) // no next IFD
    strips.scanLeft(data0)(_ + _.length).init.foreach(bb.putInt)
    strips.foreach(s => bb.putInt(s.length))
    strips.foreach(bb.put)
    val f = java.nio.file.Files.createTempFile("graft_pack_t", ".tif")
    java.nio.file.Files.write(f, bb.array())
    f.toAbsolutePath.toString
  }

  private lazy val assets: Seq[StacAsset] = (0 until 8).map { k =>
    val (d, band) = (k / 2, if (k % 2 == 0) "red" else "nir")
    val dt = s"2024-0${1 + d}-01T00:00:00Z"
    if (d % 2 == 0)
      StacAsset(s"item-$d", band, s"file://${writeZarr(k)}", dt,
        10.0, 45.0, 14.0, 48.2, "application/vnd+zarr")
    else
      StacAsset(s"item-$d", band, writeTiff(k), dt,
        10.0, 45.0, 14.0, 48.2, "image/tiff; application=geotiff")
  }

  private def sortedRows(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted

  private def load(s: SparkSession): DataFrame =
    StacLoader.loadCube(s, assets).df

  test("a 40-read raster plans at most one partition per core; rows unchanged") {
    val df = load(spark)
    assert(CubeScans.plannedReads(df) == 40)
    val parts = df.rdd.getNumPartitions
    assert(parts >= 1 && parts <= spark.sparkContext.defaultParallelism,
      s"$parts partitions for 40 reads")
    val rows = sortedRows(df.collect().toSeq)
    assert(rows.size == 8 * w * h)
    val oneByOne = assets.flatMap(a =>
      StacLoader.loadCube(spark, Seq(a)).df.collect().toSeq)
    assert(rows == sortedRows(oneByOne))
  }

  test("maxPartitionBytes below one read's weight: every read its own partition") {
    val s2 = spark.newSession()
    // one read is ≥ 320 cells × 8 bytes plus the open cost
    s2.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    val df = load(s2)
    assert(df.rdd.getNumPartitions == 40)
    assert(CubeScans.plannedReads(df) == 40)
    assert(sortedRows(df.collect().toSeq) == sortedRows(load(spark).collect().toSeq))
  }

  test("a disjoint filter plans no partition") {
    val cut = load(spark).filter(col("x") > 100.0)
    assert(cut.rdd.getNumPartitions == 0)
    assert(CubeScans.plannedReads(cut) == 0)
    assert(cut.count() == 0)
  }

  test("index readers plan one cube scan, no exchange, and return the fixture's cells") {
    import graft.sources.{TiffReader, ZarrReader}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    object Plans extends AdaptiveSparkPlanHelper
    val want = (for (r <- 0 until h; c <- 0 until w) yield (r, c)).toSet
    for ((k, df) <- Seq(
        0 -> ZarrReader.loadCube(spark, writeZarr(0), Seq("y", "x")).df,
        1 -> TiffReader.loadArray(spark, writeTiff(1)))) {
      val got = df.collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
      assert(got.length == w * h && got.map(_._1).toSet == want)
      // the plan as run (an adaptive plan is final once executed)
      val plan = df.queryExecution.executedPlan
      val scans = Plans.collect(plan) { case b: BatchScanExec => b.scan.description() }
      assert(scans.size == 1 && scans.head.startsWith("CubeScan "), plan)
      assert(Plans.collect(plan) { case e: Exchange => e }.isEmpty, plan)
      assert(df.schema.map(_.dataType.simpleString) == Seq("bigint", "bigint", "double"))
      got.foreach { case ((r, c), v) => assert(v == cell(k, r, c), s"($r, $c)") }
    }
  }
}
