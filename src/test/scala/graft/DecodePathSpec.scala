package graft

import graft.ScalaSources.scalaSources
import org.scalatest.funsuite.AnyFunSuite

/** One read path for raster bytes: the DataSourceV2 cube scan under
  * `sources/v2` is the only code that turns zarr chunk or TIFF segment
  * bytes into rows, and the format objects keep no second, hand-rolled
  * distributed loop (source scans, like SessionFactorySpec's, so a new
  * decode loop elsewhere fails here). A store header is parsed once, when
  * its asset is mounted.
  */
class DecodePathSpec extends AnyFunSuite {

  private val formats = Seq("src/main/scala/graft/sources/ZarrReader.scala",
    "src/main/scala/graft/sources/TiffReader.scala")

  test("chunk and segment decoders are called only under sources/v2") {
    val decode = """\b(decodeChunk|decodeShard)\s*\(|TiffReader\s*\.\s*unpack\s*\(""".r
    val hits = scalaSources("src/main/scala").filterNot(p => formats.contains(p._1))
      .flatMap { case (p, src) => decode.findAllMatchIn(src).map(_ => p) }.distinct
    assert(hits.nonEmpty && hits.forall(_.startsWith("src/main/scala/graft/sources/v2/")),
      hits)
    assert(decode.findFirstIn("ZarrReader.decodeShard(raw, m)").nonEmpty)
    assert(decode.findFirstIn("TiffReader.unpack(raw, m)").nonEmpty)
  }

  test("store headers are parsed only where an asset is mounted") {
    // a call, not the definition: planners, readers and loaders take the
    // header the mount parsed from the asset
    val call = """(?<!def )\breadMeta\s*\(""".r
    val hits = scalaSources("src/main/scala")
      .flatMap { case (p, src) => call.findAllMatchIn(src).map(_ => p) }.distinct
    assert(hits == Seq("src/main/scala/graft/sources/v2/CubeSource.scala"), hits)
    for ((p, src) <- scalaSources("src/main/scala/graft/sources/v2/ZarrChunks.scala",
        "src/main/scala/graft/sources/v2/TiffSegments.scala"))
      assert(!src.contains("readMeta"), p)
    assert(call.findFirstIn("TiffReader.readMeta(path, level)").nonEmpty)
    assert(call.findFirstIn("def readMeta(dir: String)").isEmpty)
  }

  test("the zarr and TIFF readers build no dataset of their own") {
    val loop = """\b(mapPartitions|createDataset)\b""".r
    for ((p, src) <- scalaSources(formats: _*))
      assert(loop.findFirstIn(src).isEmpty, p)
  }
}
