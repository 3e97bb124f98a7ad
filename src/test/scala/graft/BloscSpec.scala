package graft

import graft.sources.{Blosc, ZarrReader}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level conformance of the pure-JVM c-blosc 1.x container codec
  * (the zarr-python default v2 compressor) — hand-built buffers laid out
  * directly from the public header spec, independent of [[Blosc.compress]],
  * plus round-trips across every codec × shuffle × split shape, the named
  * error contract, and the raw numcodecs lz4 / zstd frame helpers.
  */
class BloscSpec extends AnyFunSuite {

  private def le32(n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array()

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(5)
    d.setInput(b); d.finish()
    val o = new java.io.ByteArrayOutputStream()
    val t = new Array[Byte](8192)
    while (!d.finished()) o.write(t, 0, d.deflate(t))
    d.end(); o.toByteArray
  }

  // ---- hand-built buffers (decode side only) ----

  test("memcpy'ed buffer decodes to its raw payload, shuffle bit ignored") {
    val payload = Array.tabulate[Byte](40)(i => (i * 7).toByte)
    val buf = new java.io.ByteArrayOutputStream()
    // version 2, versionlz 1, flags = shuffle|memcpy (c-blosc keeps the
    // shuffle bit when it falls back to memcpy), typesize 4
    buf.write(Array[Byte](2, 1, 0x3, 4))
    buf.write(le32(payload.length)); buf.write(le32(payload.length))
    buf.write(le32(16 + payload.length))
    buf.write(payload)
    assert(Blosc.decompress(buf.toByteArray).sameElements(payload))
  }

  test("hand-built single-block zlib buffer, no shuffle, stored split") {
    // 64 bytes, typesize 1 → single unsplit block (64 < 128 elements)
    val payload = Array.tabulate[Byte](64)(i => (i * 3 + 1).toByte)
    val comp = deflate(payload)
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](2, 1, (3 << 5).toByte, 1)) // zlib, no flags else
    buf.write(le32(64)); buf.write(le32(64))
    buf.write(le32(16 + 4 + 4 + comp.length))
    buf.write(le32(16 + 4)) // one bstart, right after itself
    buf.write(le32(comp.length)); buf.write(comp)
    assert(Blosc.decompress(buf.toByteArray).sameElements(payload))
  }

  test("hand-built raw-split buffer with byte shuffle reverses the shuffle") {
    // 256 int16 elements = 512 bytes, one block, typesize 2 → 2 splits of
    // 256 bytes, each stored RAW (size == neblock marks a stored split).
    // Split 0 carries the low bytes, split 1 the high bytes.
    val elems = Array.tabulate(256)(i => (i * 257 + 11) & 0xffff)
    val lanes = Array.tabulate[Byte](256)(i => (elems(i) & 0xff).toByte) ++
      Array.tabulate[Byte](256)(i => ((elems(i) >> 8) & 0xff).toByte)
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](2, 1, ((1 << 5) | 0x1).toByte, 2)) // lz4, shuffle
    buf.write(le32(512)); buf.write(le32(512))
    buf.write(le32(16 + 4 + 2 * (4 + 256)))
    buf.write(le32(16 + 4))
    buf.write(le32(256)); buf.write(lanes, 0, 256)   // stored split 0
    buf.write(le32(256)); buf.write(lanes, 256, 256) // stored split 1
    val out = Blosc.decompress(buf.toByteArray)
    val want = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    elems.foreach(e => want.putShort(e.toShort))
    assert(out.sameElements(want.array()))
  }

  test("dont-split flag forces one stream per block even when splittable") {
    // 1024 bytes of typesize-4 data WOULD split into 4 lanes; the 0x10
    // flag says the writer didn't. Stored raw, no shuffle.
    val payload = Array.tabulate[Byte](1024)(i => (i ^ (i >> 3)).toByte)
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](2, 1, ((4 << 5) | 0x10).toByte, 4)) // zstd, dont-split
    buf.write(le32(1024)); buf.write(le32(1024))
    val comp = Blosc.zstdCompress(payload)
    buf.write(le32(16 + 4 + 4 + comp.length))
    buf.write(le32(16 + 4))
    buf.write(le32(comp.length)); buf.write(comp)
    assert(Blosc.decompress(buf.toByteArray).sameElements(payload))
  }

  // ---- named error contract ----

  test("unknown codec codes, c-blosc2 and truncated buffers error by name") {
    def hdr(flags: Int, version: Int = 2): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(Array[Byte](version.toByte, 1, flags.toByte, 4))
      b.write(le32(64)); b.write(le32(64)); b.write(le32(24))
      b.write(le32(20)); b.write(le32(0))
      b.toByteArray
    }
    val e1 = intercept[IllegalArgumentException](Blosc.decompress(hdr(5 << 5)))
    assert(e1.getMessage.contains("compressor code 5"))
    val e3 = intercept[IllegalArgumentException](
      Blosc.decompress(hdr(1 << 5, version = 5)))
    assert(e3.getMessage.contains("version 5"))
    val e4 = intercept[IllegalArgumentException](
      Blosc.decompress(Array[Byte](2, 1, 0, 4)))
    assert(e4.getMessage.contains("ZarrCorrupt"))
  }

  // ---- blosclz instruction-format conformance (decode side only) ----

  test("hand-built blosclz stream: literals, match, RLE, extended length") {
    // instruction stream assembled byte-by-byte from the public format
    // (c-blosc blosclz.c): literal run -> near match -> literal -> RLE
    // via an extended-length d=1 match
    val s = new java.io.ByteArrayOutputStream()
    s.write(5); s.write("abcdef".getBytes) // literal run of 6
    s.write((6 - 2) << 5); s.write(6 - 1)  // match L=6 d=6 -> "abcdef" again
    s.write(0); s.write('z')               // literal run of 1
    s.write(7 << 5); s.write(10 - 9); s.write(0) // RLE: L=10 d=1 -> 'z'*10
    val blz = s.toByteArray
    val want = ("abcdef" + "abcdef" + "z" + "z" * 10).getBytes
    // wrap as a single unsplit block, no shuffle, codec 0
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](2, 1, 0 << 5, 1))
    buf.write(le32(want.length)); buf.write(le32(want.length))
    buf.write(le32(16 + 4 + 4 + blz.length))
    buf.write(le32(16 + 4))
    buf.write(le32(blz.length)); buf.write(blz)
    assert(Blosc.decompress(buf.toByteArray).sameElements(want))
  }

  test("hand-built blosclz far match (d >= 8192) decodes") {
    // 8200 literal bytes, then a far match copying 16 bytes from the
    // start: d = 8200 -> ofs16 = 8, extended length 16 -> ext byte 7
    val lit = Array.tabulate[Byte](8200)(i => ((i * 13 + 5) & 0xff).toByte)
    val s = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < lit.length) {
      val run = math.min(32, lit.length - off)
      s.write(run - 1); s.write(lit, off, run)
      off += run
    }
    s.write((7 << 5) | 31); s.write(16 - 9); s.write(255) // far marker
    s.write((8200 - 8192) >> 8); s.write((8200 - 8192) & 0xff)
    val blz = s.toByteArray
    val want = lit ++ lit.take(16)
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](2, 1, 0 << 5, 1))
    buf.write(le32(want.length)); buf.write(le32(want.length))
    buf.write(le32(16 + 4 + 4 + blz.length))
    buf.write(le32(16 + 4))
    buf.write(le32(blz.length)); buf.write(blz)
    assert(Blosc.decompress(buf.toByteArray).sameElements(want))
  }

  // ---- bit-shuffle filter conformance ----

  /** The public bitshuffle layout (Masui's bitshuffle as c-blosc vendors
    * it), written out directly in the test so the decoder is checked
    * against the documented formula, not against itself: for whole groups
    * of 8 elements, plane row (k*8 + b) byte w carries bit b of byte k of
    * elements 8w..8w+7 (bit e = element 8w+e); leftovers verbatim.
    */
  private def refBitShuffle(data: Array[Byte], typesize: Int): Array[Byte] = {
    val n = data.length / typesize
    val n8 = n - n % 8
    val out = new Array[Byte](data.length)
    for (k <- 0 until typesize; b <- 0 until 8; w <- 0 until n8 / 8) {
      var acc = 0
      for (e <- 0 until 8)
        acc |= ((data((8 * w + e) * typesize + k) >> b) & 1) << e
      out((k * 8 + b) * (n8 / 8) + w) = acc.toByte
    }
    for (i <- n8 * typesize until data.length) out(i) = data(i)
    out
  }

  for (typesize <- Seq(1, 2, 4)) {
    test(s"hand-shuffled bit-shuffle container decodes, typesize=$typesize") {
      // 22 elements: 16 bit-shuffled + 6 leftover elements copied verbatim
      val data = Array.tabulate[Byte](22 * typesize)(i =>
        ((i * 29 + 3) & 0xff).toByte)
      val lanes = refBitShuffle(data, typesize)
      val buf = new java.io.ByteArrayOutputStream()
      buf.write(Array[Byte](2, 1, ((1 << 5) | 0x4 | 0x10).toByte,
        typesize.toByte)) // lz4 | bit-shuffle | dont-split
      buf.write(le32(data.length)); buf.write(le32(data.length))
      buf.write(le32(16 + 4 + 4 + lanes.length))
      buf.write(le32(16 + 4))
      buf.write(le32(lanes.length)); buf.write(lanes) // stored raw split
      assert(Blosc.decompress(buf.toByteArray).sameElements(data))
    }
  }

  // ---- round-trips over the writer (split, leftover, memcpy paths) ----

  private def pattern(n: Int): Array[Byte] =
    Array.tabulate[Byte](n)(i => ((i * 31 + (i >> 5) * 17) & 0xff).toByte)

  for (cname <- Seq("blosclz", "lz4", "zstd", "zlib", "snappy");
       typesize <- Seq(1, 2, 8); shuf <- Seq("none", "byte", "bit")) {
    test(s"round-trip $cname typesize=$typesize shuffle=$shuf") {
      // 2560 bytes with a 1024-byte block hint: two full blocks (the
      // blosclz/lz4 ones split into byte lanes when typesize allows) + a
      // 512-byte unsplit leftover block
      val data = pattern(2560)
      val enc = Blosc.compress(data, typesize, cname,
        byteShuffle = shuf == "byte", blocksizeHint = 1024,
        bitShuffle = shuf == "bit")
      assert(Blosc.decompress(enc).sameElements(data))
      // and a single-block small buffer (odd size: bit-shuffle leftovers)
      val small = pattern(101)
      assert(Blosc.decompress(
        Blosc.compress(small, typesize, cname, byteShuffle = shuf == "byte",
          bitShuffle = shuf == "bit")).sameElements(small))
    }
  }

  test("incompressible data falls back to a memcpy'ed container") {
    val rnd = new scala.util.Random(7)
    val noise = new Array[Byte](400)
    rnd.nextBytes(noise)
    val enc = Blosc.compress(noise, 8, "lz4", byteShuffle = true)
    assert((enc(2) & 0x2) != 0, "memcpy flag expected on random noise")
    assert(Blosc.decompress(enc).sameElements(noise))
    val empty = Blosc.compress(Array.emptyByteArray, 4, "zstd", byteShuffle = false)
    assert(Blosc.decompress(empty).isEmpty)
  }

  test("numcodecs lz4 size-prefix format and zstd frames round-trip") {
    val data = pattern(777)
    assert(Blosc.lz4NumcodecsDecompress(
      ReferenceForms.lz4NumcodecsCompress(data)).sameElements(data))
    assert(Blosc.zstdDecompress(Blosc.zstdCompress(data)).sameElements(data))
    val bad = intercept[IllegalArgumentException](
      Blosc.lz4NumcodecsDecompress(Array[Byte](1, 2)))
    assert(bad.getMessage.contains("ZarrCorrupt"))
  }

  // ---- end-to-end: a v2 blosc store through ZarrReader ----

  test("ZarrReader decodes a v2 blosc(lz4+shuffle) store incl. fill chunks") {
    val spark = TestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("blosc_store").toFile
    val (h, w, cr, cc) = (9, 7, 5, 4)
    java.nio.file.Files.writeString(
      dir.toPath.resolve(".zarray"),
      s"""{"zarr_format":2,"shape":[$h,$w],"chunks":[$cr,$cc],
         |"dtype":"<f8",
         |"compressor":{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1},
         |"fill_value":-5,"filters":null,"order":"C"}""".stripMargin)
    for (gr <- 0 until 2; gc <- 0 until 2 if (gr, gc) != (1, 1)) {
      val bb = java.nio.ByteBuffer.allocate(cr * cc * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (lr <- 0 until cr; lc <- 0 until cc) {
        val (r, c) = (gr * cr + lr, gc * cc + lc)
        bb.putDouble(if (r < h && c < w) r * 100.0 + c else 0.0)
      }
      java.nio.file.Files.write(dir.toPath.resolve(s"$gr.$gc"),
        Blosc.compress(bb.array(), 8, "lz4", byteShuffle = true))
    }
    val rows = ZarrReader.loadArray(spark, dir.toString, Seq("r", "c"))
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    assert(rows.size == h * w)
    assert(rows((2L, 3L)) == 203.0)
    assert(rows((8L, 2L)) == 802.0)
    assert(rows((6L, 5L)) == -5.0, "omitted chunk must read as fill")
  }
}
