package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM GeoTIFF/COG pixel reader (public TIFF 6.0 + BigTIFF structure;
  * the reference reaches the same files through GDAL/rioxarray,
  * cubes/load.py:245-304).
  *
  * Scope: classic TIFF (II/MM) AND BigTIFF (magic 43, 8-byte IFD walk),
  * strip OR tile layout, compression none(1)/CCITT Modified-Huffman(2)/
  * CCITT Group 3(3, T.4 1-D and 2-D)/CCITT Group 4(4, T.6)/LZW(5)/
  * JPEG(7, via the JDK's own decoder, with JPEGTables splicing)/
  * old-style JPEG(6, the JPEGInterchangeFormat single-stream layout)/
  * deflate(8)/PackBits(32773), chunky-interleaved AND planar
  * (band-separate) multi-band rasters, bilevel (1-bit) through float
  * (32/64) samples, horizontal-differencing predictor(2) for integers,
  * FillOrder(2) bit reversal for fax data, T.4/T.6 uncompressed-mode
  * extension codes. Out of scope (clear error): old-style JPEG's
  * scattered-tables variant (tags 515-521 without an interchange
  * stream — no complete stream exists to decode). Tile edge padding
  * is clipped against the image size, like the zarr reader.
  *
  * Distribution shape mirrors [[ZarrReader]]: the driver parses only the
  * kilobyte header/IFD into a SEGMENT TABLE (offset, byte count, position);
  * this object holds that parse, the segment planner and the codecs, and
  * the DataSourceV2 cube scan ([[graft.sources.v2.CubeSource]]) is the one
  * reader that turns segment bytes into rows — each executor task seeks
  * and decodes its own strips/tiles, no driver data path. [[loadArray]] is
  * an index-column projection over that scan.
  */
object TiffReader {

  final case class Segment(index: Int, offset: Long, byteCount: Long)

  final case class TiffMeta(width: Int, height: Int, bits: Int,
      sampleFormat: Int, compression: Int, predictor: Int,
      littleEndian: Boolean,
      // strip layout: tileW = width, tileH = RowsPerStrip
      tileWidth: Int, tileHeight: Int, tilesAcross: Int,
      segments: Seq[Segment], nextIfd: Long = 0L, samplesPerPixel: Int = 1,
      // PlanarConfiguration=2: each segment carries ONE band's samples and
      // the segment table is band-major (all of band 0's strips, then band
      // 1's, …) — spp × segsPerBand segments total
      planar: Boolean = false,
      // JPEGTables (tag 347): shared quantization/Huffman tables to splice
      // into each strip's abbreviated JPEG stream
      jpegTables: Option[Array[Byte]] = None,
      // bilevel/fax fields: PhotometricInterpretation (262; 0=WhiteIsZero),
      // FillOrder (266; 2 = bits of each byte reversed), T4Options (292;
      // bit0 = 2-D coding for compression 3)
      photometric: Int = 1, fillOrder: Int = 1, t4Options: Long = 0L)

  private def u16(b: Array[Byte], off: Int, le: Boolean): Int =
    if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32(b: Array[Byte], off: Int, le: Boolean): Long = {
    val (a0, a1, a2, a3) =
      (b(off) & 0xffL, b(off + 1) & 0xffL, b(off + 2) & 0xffL, b(off + 3) & 0xffL)
    if (le) a0 | (a1 << 8) | (a2 << 16) | (a3 << 24)
    else (a0 << 24) | (a1 << 16) | (a2 << 8) | a3
  }

  private def u64(b: Array[Byte], off: Int, le: Boolean): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val by = b(off + (if (le) 7 - i else i)) & 0xffL
      v = (v << 8) | by
      i += 1
    }
    v
  }

  /** Parse IFD `level` of a TIFF (0 = the first, full resolution; a COG's
    * overviews follow). Driver-side cost is METADATA
    * only: targeted range reads of the 8-byte header, the IFD, and any
    * out-of-line value arrays — never the raster bytes, so a 100 GB COG
    * costs the driver kilobytes (the IFD of a COG sits at the front by
    * construction; plain TIFFs may place it at the end, still one seek).
    */
  def readMeta(path: String, level: Int = 0): TiffMeta = {
    // the walk stops at `level`; a chain that ends first (or a negative
    // level) is walked whole, so the error counts every IFD
    val chain = ifdChain(path, if (level < 0) Int.MaxValue else level)
    require(level >= 0 && level < chain.size,
      s"TiffCorrupt: overview level $level of ${chain.size}")
    chain(level)
  }

  /** IFDs 0..`last` of the chain, fewer when the chain ends first — a COG
    * carries its overview pyramid as chained IFDs (level 0 = full
    * resolution, then progressively reduced copies). Each is parsed with
    * the same targeted range reads.
    */
  private[graft] def ifdChain(path: String, last: Int): Seq[TiffMeta] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      var out = List(readIfd(raf, None))
      while (out.size <= last && out.head.nextIfd != 0)
        out = readIfd(raf, Some(out.head)) :: out
      out.reverse
    } finally raf.close()
  }

  private def readIfd(raf: java.io.RandomAccessFile,
      after: Option[TiffMeta]): TiffMeta = {
    def readAt(off: Long, len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      raf.seek(off)
      raf.readFully(b)
      b
    }
    require(raf.length() >= 8, "TiffCorrupt: short file")
    val head = readAt(0, math.min(raf.length(), 16L).toInt)
    val le =
      if (head(0) == 'I'.toByte && head(1) == 'I'.toByte) true
      else if (head(0) == 'M'.toByte && head(1) == 'M'.toByte) false
      else throw new IllegalArgumentException("TiffCorrupt: bad byte-order mark")
    val magic = u16(head, 2, le)
    // BigTIFF (magic 43): 8-byte offsets everywhere — the same IFD walk with
    // a 16-byte header, 8-byte entry counts, 20-byte entries, LONG8 type
    val big = magic == 43
    require(big || magic == 42, s"TiffCorrupt: magic $magic")
    val (inline, entrySize) = if (big) (8, 20) else (4, 12)
    val firstIfd =
      if (big) {
        require(head.length >= 16 && u16(head, 4, le) == 8 && u16(head, 6, le) == 0,
          "TiffCorrupt: BigTIFF offset size")
        u64(head, 8, le)
      } else u32(head, 4, le)
    val ifdOff = after.map(_.nextIfd).getOrElse(firstIfd)
    val n =
      if (big) u64(readAt(ifdOff, 8), 0, le).toInt
      else u16(readAt(ifdOff, 2), 0, le)
    val entBase = ifdOff + (if (big) 8 else 2)
    val ifd = readAt(entBase, n * entrySize)
    // tag → (type, count, the entry's raw inline value/offset field)
    var tags = Map.empty[Int, (Int, Long, Array[Byte])]
    for (i <- 0 until n) {
      val e = i * entrySize
      val count = if (big) u64(ifd, e + 4, le) else u32(ifd, e + 4, le)
      val vOff = e + (if (big) 12 else 8)
      tags += u16(ifd, e, le) ->
        ((u16(ifd, e + 2, le), count, ifd.slice(vOff, vOff + inline)))
    }
    def typeSize(typ: Int, tag: Int): Int = typ match {
      case 1 | 2 | 6 | 7 => 1 // BYTE / ASCII / SBYTE / UNDEFINED
      case 3 => 2 // SHORT
      case 4 => 4 // LONG
      case 16 => 8 // LONG8 (BigTIFF)
      case _ => throw new IllegalArgumentException(
        s"TiffUnsupported: field type $typ for tag $tag")
    }
    def raw(tag: Int): Option[(Int, Long, Array[Byte])] = tags.get(tag).map {
      case (typ, count, vfield) =>
        val total = typeSize(typ, tag) * count.toInt
        val arr =
          if (total <= inline) vfield
          else readAt(if (big) u64(vfield, 0, le) else u32(vfield, 0, le), total)
        (typ, count, arr)
    }
    def values(tag: Int): Seq[Long] = raw(tag) match {
      case None => Nil
      case Some((typ, count, arr)) =>
        val sz = typeSize(typ, tag)
        (0 until count.toInt).map { i =>
          sz match {
            case 1 => (arr(i) & 0xff).toLong
            case 2 => u16(arr, 2 * i, le).toLong
            case 4 => u32(arr, 4 * i, le)
            case 8 => u64(arr, 8 * i, le)
          }
        }
    }
    def one(tag: Int, default: => Long): Long =
      values(tag).headOption.getOrElse(default)

    val width = one(256, throw new IllegalArgumentException("TiffCorrupt: no width")).toInt
    val height = one(257, throw new IllegalArgumentException("TiffCorrupt: no height")).toInt
    val bits = one(258, 1).toInt
    val compression = one(259, 1).toInt
    val samplesPerPixel = one(277, 1).toInt
    val sampleFormat = one(339, 1).toInt
    val predictor = one(317, 1).toInt
    val planarConfig = one(284, 1).toInt
    require(planarConfig == 1 || planarConfig == 2,
      s"TiffCorrupt: planar configuration $planarConfig")
    require(Set(1, 2, 3, 4, 5, 6, 7, 8, 32773).contains(compression),
      s"TiffUnsupported: compression $compression " +
        "(none/CCITT-MH/G3/G4/LZW/JPEG/old-JPEG/deflate/PackBits only)")
    require(predictor == 1 || predictor == 2,
      s"TiffUnsupported: predictor $predictor")
    val planar = samplesPerPixel > 1 && planarConfig == 2
    val jpegTables =
      if (compression == 7) raw(347).map(_._3.take(tags(347)._2.toInt))
      else None
    // fax files default to WhiteIsZero (T.4's min-is-white convention)
    val photometric =
      one(262, if (Set(2, 3, 4).contains(compression)) 0L else 1L).toInt
    val fillOrder = one(266, 1).toInt
    require(fillOrder == 1 || fillOrder == 2,
      s"TiffCorrupt: fill order $fillOrder")
    val t4Options = one(292, 0L)

    val tiled = tags.contains(322)
    val (tw, th, offsets, counts) =
      if (compression == 6) {
        // old-style JPEG (TIFF 6.0 §22, deprecated by TTN2): when the
        // JPEGInterchangeFormat pointer (513/514) is present the image is
        // one complete JFIF stream — the layout every surviving writer
        // (Wang/scanner era) produced, and what the JDK decoder reads
        // directly. The scattered-tables variant (tags 515-521 with no
        // interchange stream) has no complete stream to hand a decoder
        // and stays a typed error.
        val off = one(513, throw new IllegalArgumentException(
          "TiffUnsupported: old-style JPEG(6) without JPEGInterchangeFormat"))
        val len = one(514, throw new IllegalArgumentException(
          "TiffUnsupported: old-style JPEG(6) without JPEGInterchangeFormatLength"))
        (width, height, Seq(off), Seq(len))
      } else if (tiled)
        (one(322, 0).toInt, one(323, 0).toInt, values(324), values(325))
      else {
        val rps = math.min(one(278, height.toLong), height.toLong).toInt
        (width, rps, values(273), values(279))
      }
    require(offsets.nonEmpty && offsets.size == counts.size,
      "TiffCorrupt: strip/tile tables")
    require(!planar || offsets.size % samplesPerPixel == 0,
      "TiffCorrupt: planar segment table not divisible by band count")
    val across = if (tiled) (width + tw - 1) / tw else 1
    val segs = offsets.zip(counts).zipWithIndex.map { case ((o, c), i) =>
      Segment(i, o, c)
    }
    val nextOff = entBase + n.toLong * entrySize
    val nextIfd =
      if (big) u64(readAt(nextOff, 8), 0, le) else u32(readAt(nextOff, 4), 0, le)
    TiffMeta(width, height, bits, sampleFormat, compression, predictor, le,
      tw, th, across, segs, nextIfd, samplesPerPixel, planar, jpegTables,
      photometric, fillOrder, t4Options)
  }

  /** TIFF-flavor LZW decode (TIFF 6.0 §13): 8-bit symbols, MSB-first code
    * packing, ClearCode 256 / EOI 257, and the spec's EARLY code-width
    * change — the width grows to 10/11/12 bits when the next free table
    * entry reaches 511/1023/2047 (one position before a late-change LZW
    * would), matching what every TIFF writer emits.
    */
  private[graft] def lzwDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 3))
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 0
    def reset(): Unit = {
      var i = 0
      while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
      dictSize = 258
    }
    reset()
    var codeLen = 9
    var bitPos = 0L
    val totalBits = in.length.toLong * 8
    def next(): Int = {
      if (bitPos + codeLen > totalBits) 257 // truncated stream = implicit EOI
      else {
        var v = 0
        var i = 0
        while (i < codeLen) {
          v = (v << 1) | ((in((bitPos >> 3).toInt) >> (7 - (bitPos & 7).toInt)) & 1)
          bitPos += 1
          i += 1
        }
        v
      }
    }
    var prev: Array[Byte] = null
    var c = next()
    while (c != 257) {
      if (c == 256) { reset(); codeLen = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (c < dictSize && dict(c) != null) dict(c)
          else if (c == dictSize && prev != null) prev :+ prev(0)
          else throw new IllegalArgumentException(
            s"TiffCorrupt: LZW code $c with table size $dictSize")
        out.write(entry, 0, entry.length)
        if (prev != null && dictSize < 4096) {
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        prev = entry
        if (dictSize >= (1 << codeLen) - 1 && codeLen < 12) codeLen += 1
      }
      c = next()
    }
    out.toByteArray
  }

  /** PackBits decode (TIFF 6.0 §9): n≥0 → n+1 literal bytes; −127…−1 →
    * repeat next byte 1−n times; −128 → no-op.
    */
  private[graft] def packbitsDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 2))
    var i = 0
    while (i < in.length) {
      val n = in(i)
      i += 1
      if (n >= 0) { out.write(in, i, n + 1); i += n + 1 }
      else if (n != -128) {
        val b = in(i); i += 1
        var k = 1 - n
        while (k > 0) { out.write(b); k -= 1 }
      }
    }
    out.toByteArray
  }

  // ---- CCITT Group 3 / Group 4 fax (ITU-T T.4 / T.6, public bit layouts) —
  // the Modified-Huffman run tables plus the 2-D pass/horizontal/vertical
  // coding modes. Entries are (codeLength, code, runLength).

  private val WhiteTerm: Seq[(Int, Int, Int)] = Seq(
    (8, 0x35, 0), (6, 0x07, 1), (4, 0x07, 2), (4, 0x08, 3), (4, 0x0B, 4),
    (4, 0x0C, 5), (4, 0x0E, 6), (4, 0x0F, 7), (5, 0x13, 8), (5, 0x14, 9),
    (5, 0x07, 10), (5, 0x08, 11), (6, 0x08, 12), (6, 0x03, 13), (6, 0x34, 14),
    (6, 0x35, 15), (6, 0x2A, 16), (6, 0x2B, 17), (7, 0x27, 18), (7, 0x0C, 19),
    (7, 0x08, 20), (7, 0x17, 21), (7, 0x03, 22), (7, 0x04, 23), (7, 0x28, 24),
    (7, 0x2B, 25), (7, 0x13, 26), (7, 0x24, 27), (7, 0x18, 28), (8, 0x02, 29),
    (8, 0x03, 30), (8, 0x1A, 31), (8, 0x1B, 32), (8, 0x12, 33), (8, 0x13, 34),
    (8, 0x14, 35), (8, 0x15, 36), (8, 0x16, 37), (8, 0x17, 38), (8, 0x28, 39),
    (8, 0x29, 40), (8, 0x2A, 41), (8, 0x2B, 42), (8, 0x2C, 43), (8, 0x2D, 44),
    (8, 0x04, 45), (8, 0x05, 46), (8, 0x0A, 47), (8, 0x0B, 48), (8, 0x52, 49),
    (8, 0x53, 50), (8, 0x54, 51), (8, 0x55, 52), (8, 0x24, 53), (8, 0x25, 54),
    (8, 0x58, 55), (8, 0x59, 56), (8, 0x5A, 57), (8, 0x5B, 58), (8, 0x4A, 59),
    (8, 0x4B, 60), (8, 0x32, 61), (8, 0x33, 62), (8, 0x34, 63))

  private val WhiteMakeup: Seq[(Int, Int, Int)] = Seq(
    (5, 0x1B, 64), (5, 0x12, 128), (6, 0x17, 192), (7, 0x37, 256),
    (8, 0x36, 320), (8, 0x37, 384), (8, 0x64, 448), (8, 0x65, 512),
    (8, 0x68, 576), (8, 0x67, 640), (9, 0xCC, 704), (9, 0xCD, 768),
    (9, 0xD2, 832), (9, 0xD3, 896), (9, 0xD4, 960), (9, 0xD5, 1024),
    (9, 0xD6, 1088), (9, 0xD7, 1152), (9, 0xD8, 1216), (9, 0xD9, 1280),
    (9, 0xDA, 1344), (9, 0xDB, 1408), (9, 0x98, 1472), (9, 0x99, 1536),
    (9, 0x9A, 1600), (6, 0x18, 1664), (9, 0x9B, 1728))

  private val BlackTerm: Seq[(Int, Int, Int)] = Seq(
    (10, 0x37, 0), (3, 0x02, 1), (2, 0x03, 2), (2, 0x02, 3), (3, 0x03, 4),
    (4, 0x03, 5), (4, 0x02, 6), (5, 0x03, 7), (6, 0x05, 8), (6, 0x04, 9),
    (7, 0x04, 10), (7, 0x05, 11), (7, 0x07, 12), (8, 0x04, 13), (8, 0x07, 14),
    (9, 0x18, 15), (10, 0x17, 16), (10, 0x18, 17), (10, 0x08, 18),
    (11, 0x67, 19), (11, 0x68, 20), (11, 0x6C, 21), (11, 0x37, 22),
    (11, 0x28, 23), (11, 0x17, 24), (11, 0x18, 25), (12, 0xCA, 26),
    (12, 0xCB, 27), (12, 0xCC, 28), (12, 0xCD, 29), (12, 0x68, 30),
    (12, 0x69, 31), (12, 0x6A, 32), (12, 0x6B, 33), (12, 0xD2, 34),
    (12, 0xD3, 35), (12, 0xD4, 36), (12, 0xD5, 37), (12, 0xD6, 38),
    (12, 0xD7, 39), (12, 0x6C, 40), (12, 0x6D, 41), (12, 0xDA, 42),
    (12, 0xDB, 43), (12, 0x54, 44), (12, 0x55, 45), (12, 0x56, 46),
    (12, 0x57, 47), (12, 0x64, 48), (12, 0x65, 49), (12, 0x52, 50),
    (12, 0x53, 51), (12, 0x24, 52), (12, 0x37, 53), (12, 0x38, 54),
    (12, 0x27, 55), (12, 0x28, 56), (12, 0x58, 57), (12, 0x59, 58),
    (12, 0x2B, 59), (12, 0x2C, 60), (12, 0x5A, 61), (12, 0x66, 62),
    (12, 0x67, 63))

  private val BlackMakeup: Seq[(Int, Int, Int)] = Seq(
    (10, 0x0F, 64), (12, 0xC8, 128), (12, 0xC9, 192), (12, 0x5B, 256),
    (12, 0x33, 320), (12, 0x34, 384), (12, 0x35, 448), (13, 0x6C, 512),
    (13, 0x6D, 576), (13, 0x4A, 640), (13, 0x4B, 704), (13, 0x4C, 768),
    (13, 0x4D, 832), (13, 0x72, 896), (13, 0x73, 960), (13, 0x74, 1024),
    (13, 0x75, 1088), (13, 0x76, 1152), (13, 0x77, 1216), (13, 0x52, 1280),
    (13, 0x53, 1344), (13, 0x54, 1408), (13, 0x55, 1472), (13, 0x5A, 1536),
    (13, 0x5B, 1600), (13, 0x64, 1664), (13, 0x65, 1728))

  /** Extended makeup codes 1792–2560 — shared by both colors (T.4 §2). */
  private val ExtMakeup: Seq[(Int, Int, Int)] = Seq(
    (11, 0x08, 1792), (11, 0x0C, 1856), (11, 0x0D, 1920), (12, 0x12, 1984),
    (12, 0x13, 2048), (12, 0x14, 2112), (12, 0x15, 2176), (12, 0x16, 2240),
    (12, 0x17, 2304), (12, 0x1C, 2368), (12, 0x1D, 2432), (12, 0x1E, 2496),
    (12, 0x1F, 2560))

  private lazy val whiteRuns: Map[(Int, Int), Int] =
    (WhiteTerm ++ WhiteMakeup ++ ExtMakeup)
      .map { case (l, c, r) => (l, c) -> r }.toMap
  private lazy val blackRuns: Map[(Int, Int), Int] =
    (BlackTerm ++ BlackMakeup ++ ExtMakeup)
      .map { case (l, c, r) => (l, c) -> r }.toMap

  /** Decode one CCITT segment to an isBlack byte per pixel (row-major,
    * `width` stride, `maxRows` rows — undecoded trailing rows stay white).
    * Handles compression 2 (Modified Huffman, every row byte-aligned),
    * 3 (T.4 Group 3: EOL-separated rows, 1-D or mixed 2-D per T4Options
    * bit 0) and 4 (T.6 Group 4: all rows 2-D against the reference line,
    * terminated by EOFB or row count). FillOrder 2 reverses each byte's
    * bits first. The 2-D extension code 0000001111 enters T.4/T.6
    * uncompressed mode (literal pels until the 0000001+t exit code).
    */
  private[graft] def ccittDecode(in: Array[Byte], width: Int, maxRows: Int,
      compression: Int, t4Options: Long, fillOrder: Int): Array[Byte] = {
    val data =
      if (fillOrder == 2) in.map(b => (Integer.reverse(b & 0xff) >>> 24).toByte)
      else in
    val total = data.length.toLong * 8
    var pos = 0L
    def corrupt(msg: String) =
      throw new IllegalArgumentException(s"TiffCorrupt: CCITT $msg")
    def bit(): Int = {
      if (pos >= total) corrupt("truncated stream") // typed, not AIOOBE
      val v = (data((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1
      pos += 1
      v
    }
    // one full run of `black` color: optional makeup codes + a terminator
    def readRun(black: Boolean): Int = {
      val table = if (black) blackRuns else whiteRuns
      var sum = 0
      var terminated = false
      while (!terminated) {
        var code = 0
        var len = 0
        var run = -1
        while (run < 0) {
          if (pos >= total || len > 13) corrupt("run code")
          code = (code << 1) | bit()
          len += 1
          run = table.getOrElse((len, code), -1)
        }
        sum += run
        terminated = run < 64
      }
      sum
    }
    // 2-D mode tokens
    val V0 = 0; val VR1 = 1; val VR2 = 2; val VR3 = 3
    val VL1 = -1; val VL2 = -2; val VL3 = -3
    val PASS = 100; val HORIZ = 101; val EOL = 102; val UNCOMP = 103
    def readMode(): Int = {
      var zeros = 0
      while (pos < total && bit() == 0) zeros += 1
      if (pos >= total && zeros < 11) return EOL // exhausted = stop
      zeros match {
        case 0 => V0
        case 1 => if (bit() == 1) VR1 else VL1
        case 2 => HORIZ
        case 3 => PASS
        case 4 => if (bit() == 1) VR2 else VL2
        case 5 => if (bit() == 1) VR3 else VL3
        case 6 =>
          // extension code 0000001xxx (T.4 §4.2.1.3.4 / T.6 §2.2.6):
          // only xxx = 111, enter uncompressed mode, is defined
          val (e1, e2, e3) = (bit(), bit(), bit())
          if (e1 == 1 && e2 == 1 && e3 == 1) UNCOMP
          else corrupt(s"unknown extension code $e1$e2$e3")
        case _ => EOL // >= 7 zeros then 1: (fill +) EOL / EOFB half
      }
    }
    // next-run helpers over the reference row (monotone scans: amortized
    // linear per row because a0 only moves right)
    def isChange(row: Array[Byte], i: Int): Boolean =
      row(i) != (if (i == 0) 0: Byte else row(i - 1))
    def findB1(ref: Array[Byte], a0: Int, color: Byte): Int = {
      var i = math.max(a0 + 1, 0)
      while (i < width && !(isChange(ref, i) && ref(i) != color)) i += 1
      i
    }
    def nextChange(ref: Array[Byte], from: Int): Int = {
      var i = from + 1
      while (i < width && !isChange(ref, i)) i += 1
      i
    }
    val out = new Array[Byte](width * maxRows)
    var ref = new Array[Byte](width) // imaginary all-white line above row 0
    val cur = new Array[Byte](width)
    def fill(from: Int, until: Int, v: Byte): Unit = {
      var i = math.max(from, 0)
      while (i < math.min(until, width)) { cur(i) = v; i += 1 }
    }
    // decode ONE 2-D row against ref; false when the stream ended (EOFB)
    def decode2D(): Boolean = {
      var a0 = -1
      var color: Byte = 0
      while (a0 < width) {
        val mode = readMode()
        if (mode == EOL) return a0 >= 0 // EOFB at a row boundary = done
        mode match {
          case UNCOMP =>
            // uncompressed mode (T.4 Table 10): literal pels — "1" = one
            // black, "0…01" (1-4 zeros) = that many whites then a black,
            // "000001" = five whites — until the exit code 0000001 + t,
            // where t is the color state 2-D coding resumes with
            var p = math.max(a0, 0)
            var exited = false
            while (!exited) {
              var z = 0
              var sawOne = false
              while (!sawOne && z < 7) {
                if (bit() == 1) sawOne = true else z += 1
              }
              if (!sawOne) corrupt("uncompressed-mode run")
              if (z <= 4) { // z whites then a black pel
                p += z
                if (p >= width) corrupt("uncompressed-mode overrun")
                cur(p) = 1
                p += 1
              } else if (z == 5) { // five whites, no black
                p += 5
                if (p > width) corrupt("uncompressed-mode overrun")
              } else { // 0000001 + t: exit
                color = bit().toByte
                exited = true
              }
            }
            a0 = p
          case PASS =>
            val b1 = findB1(ref, a0, color)
            val b2 = if (b1 >= width) width else nextChange(ref, b1)
            fill(a0, b2, color)
            a0 = b2
          case HORIZ =>
            val r1 = readRun(color == 1)
            val r2 = readRun(color == 0)
            val s = math.max(a0, 0)
            fill(s, s + r1, color)
            fill(s + r1, s + r1 + r2, (1 - color).toByte)
            a0 = s + r1 + r2
          case v => // vertical: a1 = b1 + v ∈ {-3..3}
            val b1 = findB1(ref, a0, color)
            val a1 = b1 + v
            if (a1 < 0 || a1 > width) corrupt(s"vertical offset $a1")
            fill(a0, a1, color)
            a0 = a1
            color = (1 - color).toByte
        }
      }
      true
    }
    // decode ONE 1-D (Modified Huffman) row: runs alternate starting white
    def decode1D(): Unit = {
      var col = 0
      var black = false
      while (col < width) {
        val r = readRun(black)
        fill(col, col + r, if (black) 1 else 0)
        col += r
        black = !black
      }
    }
    // consume fill zeros + EOL if the stream sits on one; returns the T.4
    // 2-D tag bit (1 = next row 1-D) or -1 when no EOL is present
    def consumeEol(twoDim: Boolean): Int = {
      val save = pos
      var zeros = 0
      while (pos < total && bit() == 0) zeros += 1
      if (pos > total || zeros < 11) { pos = save; -1 }
      else if (twoDim) { if (pos < total) bit() else 1 }
      else 1
    }
    val g3TwoDim = compression == 3 && (t4Options & 1L) != 0L
    var row = 0
    var live = true
    while (row < maxRows && live && pos < total) {
      compression match {
        case 2 => // every row starts on a byte boundary
          pos = (pos + 7) & ~7L
          if (pos >= total) live = false
          else { decode1D(); java.lang.System.arraycopy(cur, 0, out, row * width, width) }
        case 3 =>
          // consume every EOL sitting here (RTC = six consecutive EOLs)
          var tag = consumeEol(g3TwoDim)
          var more = tag != -1
          while (more && pos < total) {
            val t = consumeEol(g3TwoDim)
            if (t == -1) more = false else tag = t
          }
          // a short last strip leaves only byte-padding zeros: the row
          // count, not the bit stream, says how many rows exist — stop
          // instead of tripping readRun on padding ("undecoded trailing
          // rows stay white", per the contract)
          def onlyZerosLeft: Boolean = {
            var p = pos
            var all = true
            while (all && p < total) {
              all = ((data((p >> 3).toInt) >> (7 - (p & 7).toInt)) & 1) == 0
              p += 1
            }
            all
          }
          if (pos >= total || onlyZerosLeft) live = false
          else {
            val oneD = !g3TwoDim || tag != 0
            if (oneD) decode1D() else live = decode2D()
            if (live) java.lang.System.arraycopy(cur, 0, out, row * width, width)
          }
        case 4 =>
          live = decode2D()
          if (live) java.lang.System.arraycopy(cur, 0, out, row * width, width)
      }
      if (live) {
        java.lang.System.arraycopy(cur, 0, ref, 0, width)
        java.util.Arrays.fill(cur, 0: Byte)
        row += 1
      }
    }
    out
  }

  /** CCITT segment → sample doubles: decode runs, then map black/white to
    * the STORED bit value under the file's PhotometricInterpretation
    * (white = 0 under WhiteIsZero(0), 1 under BlackIsZero(1)) — the same
    * stored-sample semantics as every other unpack path.
    */
  private def ccittSamples(raw: Array[Byte], m: TiffMeta): Array[Double] = {
    val isBlack = ccittDecode(raw, m.tileWidth, m.tileHeight,
      m.compression, m.t4Options, m.fillOrder)
    val blackVal = if (m.photometric == 0) 1.0 else 0.0
    val out = new Array[Double](isBlack.length)
    var i = 0
    while (i < isBlack.length) {
      out(i) = if (isBlack(i) == 1) blackVal else 1.0 - blackVal
      i += 1
    }
    out
  }

  /** Decode one JPEG-compressed segment through the JDK's own JPEG decoder.
    * A strip is an abbreviated JPEG stream; shared tables from JPEGTables
    * (tag 347: SOI + tables + EOI) are spliced in after the strip's SOI.
    * Output is laid out like every other segment (tileWidth-stride, chunky),
    * zero-padded past the decoded extent (clipped by the caller anyway).
    */
  private def jpegSamples(rawSeg: Array[Byte], m: TiffMeta): Array[Double] = {
    val stream = m.jpegTables match {
      case Some(t) if t.length > 4 && rawSeg.length > 2 =>
        val body = t.slice(2, t.length - 2) // strip the tables' own SOI/EOI
        val merged = new Array[Byte](2 + body.length + (rawSeg.length - 2))
        merged(0) = rawSeg(0); merged(1) = rawSeg(1)
        System.arraycopy(body, 0, merged, 2, body.length)
        System.arraycopy(rawSeg, 2, merged, 2 + body.length, rawSeg.length - 2)
        merged
      case _ => rawSeg
    }
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(stream))
    require(img != null, "TiffCorrupt: undecodable JPEG segment")
    val raster = img.getRaster
    val spp = if (m.planar) 1 else m.samplesPerPixel
    val out = new Array[Double](m.tileHeight * m.tileWidth * spp)
    val h = math.min(raster.getHeight, m.tileHeight)
    val w = math.min(raster.getWidth, m.tileWidth)
    val bands = math.min(raster.getNumBands, spp)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < bands) {
          out((y * m.tileWidth + x) * spp + b) = raster.getSampleDouble(x, y, b)
          b += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode one segment's raw bytes to doubles (executor-side). */
  def unpack(raw: Array[Byte], m: TiffMeta): Array[Double] = {
    // 6 = old-style JPEG: the segment IS a complete JFIF stream (no
    // JPEGTables splice); 7 = new-style, abbreviated streams + tag 347
    if (m.compression == 6 || m.compression == 7) return jpegSamples(raw, m)
    if (Set(2, 3, 4).contains(m.compression)) return ccittSamples(raw, m)
    val bytes = m.compression match {
      case 8 => ZarrReader.inflate(raw)
      case 5 => lzwDecode(raw)
      case 32773 => packbitsDecode(raw)
      case _ => raw
    }
    if (m.bits == 1) {
      // uncompressed/LZW/deflate bilevel: MSB-first bits, rows byte-padded
      val rowBytes = (m.tileWidth + 7) / 8
      val rows = bytes.length / rowBytes
      val o = new Array[Double](rows * m.tileWidth)
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < m.tileWidth) {
          val b = bytes(r * rowBytes + (c >> 3))
          o(r * m.tileWidth + c) = ((b >> (7 - (c & 7))) & 1).toDouble
          c += 1
        }
        r += 1
      }
      return o
    }
    val per = m.bits / 8
    val n = bytes.length / per
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (m.littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    (m.sampleFormat, m.bits) match {
      case (3, 32) => while (i < n) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
      case (3, 64) => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case (2, 16) => while (i < n) { out(i) = bb.getShort(i * 2).toDouble; i += 1 }
      case (2, 32) => while (i < n) { out(i) = bb.getInt(i * 4).toDouble; i += 1 }
      case (1, 8) => while (i < n) { out(i) = (bytes(i) & 0xff).toDouble; i += 1 }
      case (1, 16) => while (i < n) { out(i) = (u16(bytes, i * 2, m.littleEndian)).toDouble; i += 1 }
      case (1, 32) => while (i < n) { out(i) = u32(bytes, i * 4, m.littleEndian).toDouble; i += 1 }
      case (f, w) => throw new IllegalArgumentException(
        s"TiffUnsupported: sample format $f / $w bits")
    }
    if (m.predictor == 2) {
      // horizontal differencing: undo per row, per SAMPLE channel (chunky
      // interleave differences each channel against the previous pixel's;
      // a planar segment carries one channel, so its stride is 1)
      require(m.sampleFormat != 3, "TiffUnsupported: predictor 2 on floats")
      val spp = if (m.planar) 1 else m.samplesPerPixel
      val w = m.tileWidth * spp
      var r = 0
      while (r * w < n) {
        var c = spp
        while (c < w && r * w + c < n) {
          out(r * w + c) += out(r * w + c - spp)
          c += 1
        }
        r += 1
      }
    }
    out
  }

  /** Strip/tile extent pushdown: the segments whose pixel footprint
    * intersects the requested inclusive row/col ranges (`None` = full
    * axis). The TIFF twin of [[ZarrReader.planChunks]] — a small-bbox read
    * of a huge COG seeks only intersecting strips/tiles. Planar segment
    * tables are band-major: geometry derives from the within-band index,
    * and every band's matching segments are kept.
    */
  private[graft] def planSegments(meta: TiffMeta,
      rowRange: Option[(Long, Long)],
      colRange: Option[(Long, Long)]): Seq[Segment] = {
    if (rowRange.isEmpty && colRange.isEmpty) return meta.segments
    val spp = meta.samplesPerPixel
    val segsPerBand =
      if (meta.planar && spp > 0) meta.segments.size / spp
      else meta.segments.size
    meta.segments.filter { seg =>
      val within = if (meta.planar) seg.index % segsPerBand else seg.index
      val (tileRow, tileCol) = (within / meta.tilesAcross, within % meta.tilesAcross)
      val (r0, c0) = (tileRow.toLong * meta.tileHeight, tileCol.toLong * meta.tileWidth)
      val (r1, c1) = (r0 + meta.tileHeight - 1, c0 + meta.tileWidth - 1)
      rowRange.forall { case (lo, hi) => r1 >= lo && r0 <= hi } &&
        colRange.forall { case (lo, hi) => c1 >= lo && c0 <= hi }
    }
  }

  /** Load a single-sample raster as a long-form DataFrame: bigint
    * `dimNames` (row, col) and a double `value`, one row per pixel. A
    * projection over the file's one-asset cube scan, mounted on its index
    * grid ([[graft.sources.v2.CubeSource.unitTiff]]: x = col, y = row), so
    * its strip/tile reads are packed into core-sized partitions and each
    * task seeks only its own bytes. `level` selects an overview IFD of a COG
    * pyramid (0 = full resolution) — reading a reduced copy touches only
    * ITS segments, the cloud-optimized cheap-zoom path.
    * `rowRange`/`colRange` (inclusive) become y/x filters, which the scan
    * pushes down to [[planSegments]] ranges.
    */
  def loadArray(spark: SparkSession, path: String,
      dimNames: Seq[String] = Seq("row", "col"), level: Int = 0,
      rowRange: Option[(Long, Long)] = None,
      colRange: Option[(Long, Long)] = None): DataFrame = {
    val asset = v2.CubeSource.unitTiff(path, level)
    require(asset.meta.samplesPerPixel == 1,
      "TiffUnsupported: multi-band raster — load it as a cube " +
        "(load_stac names each sample <band>_<i>)")
    Seq(rowRange.map("y" -> _), colRange.map("x" -> _)).flatten
      .foldLeft(v2.CubeSource.frame(spark, Seq(asset))) {
        case (df, (c, (lo, hi))) => df.where(col(c).between(lo, hi))
      }
      .select(col("y").cast("bigint").as(dimNames.head),
        col("x").cast("bigint").as(dimNames(1)), col("value"))
  }
}
