package graft.queries

import graft.core.DataCube
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic zarr SINK fixture for the driver-green `zarr_roundtrip`
  * query — the write-side twin of [[StacFixture.ensureZarr]], following the
  * `warc_extract` precedent of crossing a WRITE path at query build: a
  * dense 40×25 grid aggregated from `lineitem` is written through the
  * distributed [[graft.sources.ZarrWriter]] (executor-written chunk files,
  * one groupByKey shuffle — the 100-TB sink shape), then the query reads
  * the store back through [[graft.sources.ZarrReader]] and must reproduce
  * exactly what a DuckDB aggregate computes from the parquet directly.
  *
  * Once-per-JVM discipline (the `WarcFixture.ensureCorpus` lesson, r7):
  * the source parquet cannot change under a running JVM, so the write job
  * runs on the first build only; timed bench re-builds just re-read. Each
  * JVM's first build rewrites the store from scratch, so a stale directory
  * from a previous corpus generation cannot survive into this one.
  */
object RasterFixture {

  /** Grid shape: y = l_orderkey mod 40 (rows), x = l_partkey mod 25
    * (cols), value = sum(l_quantity) — integral doubles, f8-exact.
    */
  val (gridH, gridW) = (40, 25)

  private val written = scala.collection.mutable.HashSet[String]()

  def ensureZarrGrid(spark: SparkSession, sfDir: String): String =
    synchronized {
      val tag = java.lang.Integer.toHexString(sfDir.hashCode)
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_zarr_sink_${tag}_v1")
      if (!written.contains(sfDir)) {
        if (java.nio.file.Files.isDirectory(dir)) {
          val fs = dir.toFile.listFiles()
          if (fs != null) fs.foreach(f => { java.nio.file.Files.delete(f.toPath) })
        }
        val grid = Tables.lineitem(spark, sfDir)
          .groupBy(pmod(col("l_orderkey"), lit(gridH)).cast("double").as("y"),
            pmod(col("l_partkey"), lit(gridW)).cast("double").as("x"))
          .agg(sum(col("l_quantity")).as("value"))
        val cube = DataCube.fromTable(grid, Seq("y", "x"), "value")
        graft.sources.ZarrWriter.writeGrid(cube, dir.toString,
          rowDim = "y", colDim = "x", chunkR = 16, chunkC = 16)
        written += sfDir
      }
      dir.toString
    }

  private val bloscWritten = scala.collection.mutable.HashSet[String]()

  /** blosc(lz4 + byte-shuffle) SINK twin of [[ensureZarrGrid]] for the
    * `zarr_blosc_roundtrip` query: the same lineitem grid written through
    * the pure-JVM [[graft.sources.Blosc]] encoder under zarr-python's
    * default v2 compressor declaration, read back through the container's
    * split/unshuffle decode paths.
    */
  def ensureZarrGridBlosc(spark: SparkSession, sfDir: String): String =
    synchronized {
      val tag = java.lang.Integer.toHexString(sfDir.hashCode)
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_zarrb_sink_${tag}_v1")
      if (!bloscWritten.contains(sfDir)) {
        if (java.nio.file.Files.isDirectory(dir)) {
          val fs = dir.toFile.listFiles()
          if (fs != null) fs.foreach(f => java.nio.file.Files.delete(f.toPath))
        }
        val grid = Tables.lineitem(spark, sfDir)
          .groupBy(pmod(col("l_orderkey"), lit(gridH)).cast("double").as("y"),
            pmod(col("l_partkey"), lit(gridW)).cast("double").as("x"))
          .agg(sum(col("l_quantity")).as("value"))
        val cube = DataCube.fromTable(grid, Seq("y", "x"), "value")
        graft.sources.ZarrWriter.writeGrid(cube, dir.toString,
          rowDim = "y", colDim = "x", chunkR = 16, chunkC = 16,
          compressor = "blosc-lz4")
        bloscWritten += sfDir
      }
      dir.toString
    }

  private val v3Written = scala.collection.mutable.HashSet[String]()

  /** zarr V3 sink twin of [[ensureZarrGrid]] for the `zarr_v3_roundtrip`
    * query: the same lineitem grid written as a `zarr.json` store with
    * nested `c/r/c` default chunk keys and the `sharding_indexed` codec —
    * each 16×16 shard carries a 2×2 grid of gzip'd 8×8 inner chunks plus
    * a crc32c'd index footer, with all-fill inner chunks omitted as
    * missing sentinels. The write side exercises the v3 sharded encode,
    * the read side the sharded branch of [[graft.sources.ZarrReader]]
    * including index checksum verification and the missing-inner fill
    * path: the bottom shard row (rows 32–47 over a 40-row array) has its
    * lower 8×8 inner chunks fully out of bounds — all-NaN, hence omitted
    * and re-materialized as fill on read.
    */
  def ensureZarrGridV3(spark: SparkSession, sfDir: String): String =
    synchronized {
      val tag = java.lang.Integer.toHexString(sfDir.hashCode)
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_zarr3_sink_${tag}_v2")
      if (!v3Written.contains(sfDir)) {
        if (java.nio.file.Files.isDirectory(dir)) {
          // nested v3 keys → depth-first delete
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val grid = Tables.lineitem(spark, sfDir)
          .groupBy(pmod(col("l_orderkey"), lit(gridH)).cast("double").as("y"),
            pmod(col("l_partkey"), lit(gridW)).cast("double").as("x"))
          .agg(sum(col("l_quantity")).as("value"))
        val cube = DataCube.fromTable(grid, Seq("y", "x"), "value")
        graft.sources.ZarrWriter.writeGrid(cube, dir.toString,
          rowDim = "y", colDim = "x", chunkR = 16, chunkC = 16, format = 3,
          shardInner = Some((8, 8)))
        v3Written += sfDir
      }
      dir.toString
    }

  private val tiffWritten = scala.collection.mutable.HashSet[String]()

  /** TIFF SINK twin of [[ensureZarrGrid]] for the `tiff_roundtrip` query:
    * the same lineitem grid written through [[graft.sources.TiffWriter]]
    * (deflate strips, rowsPerStrip=7 → 6 strips, so the multi-strip
    * offset/count arrays and the zlib codec are both on the hash path),
    * read back through [[graft.sources.TiffReader.loadArray]], the
    * packed cube scan's strip reads. Row 0 is the TOP row (max y, north-up),
    * matching the zarr layout; missing cells are NaN and drop on read.
    * The grid itself is bounded (gridH×gridW = 1000 cells) — collecting
    * it to write one driver-side file is the TIFF sink's real shape: a
    * GTiff EXPORT is a per-tile artifact, not a sharded dataset sink
    * (the sharded path is the zarr writer).
    */
  def ensureTiffGrid(spark: SparkSession, sfDir: String): String =
    synchronized {
      val tag = java.lang.Integer.toHexString(sfDir.hashCode)
      val path = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_tiff_sink_${tag}_v1.tif")
      if (!tiffWritten.contains(sfDir)) {
        val grid = Tables.lineitem(spark, sfDir)
          .groupBy(pmod(col("l_orderkey"), lit(gridH)).cast("int").as("y"),
            pmod(col("l_partkey"), lit(gridW)).cast("int").as("x"))
          .agg(sum(col("l_quantity")).cast("float").as("v"))
          .collect()
        val values = Array.fill(gridH * gridW)(Float.NaN)
        grid.foreach { r =>
          val (y, x) = (r.getInt(0), r.getInt(1))
          values((gridH - 1 - y) * gridW + x) = r.getFloat(2)
        }
        graft.sources.TiffWriter.write(path.toString, gridW, gridH, values,
          deflate = true, rowsPerStrip = 7)
        tiffWritten += sfDir
      }
      path.toString
    }
}
