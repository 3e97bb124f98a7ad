package graft.sources

/** Pure-JVM codec for the c-blosc 1.x container — the compressor wrapping
  * zarr-python writes BY DEFAULT for v2 stores (numcodecs `Blosc(cname=
  * 'lz4', clevel=5, shuffle=SHUFFLE)`), which the reference reads for free
  * through numcodecs (reference: cubes/load.py:94-322 via
  * `xr.open_dataset(engine="zarr")`). Everything here derives from the
  * PUBLIC c-blosc format documentation (c-blosc `README_HEADER.rst` /
  * `blosc.c`):
  *
  * 16-byte little-endian header:
  * {{{
  *   byte 0  version   (format version; c-blosc 1.x writes 2)
  *   byte 1  versionlz (codec-specific format version)
  *   byte 2  flags     bit0 byte-shuffle, bit1 memcpy'ed, bit2 bit-shuffle,
  *                     bit4 dont-split (c-blosc >= 1.14),
  *                     bits5-7 codec: 0 blosclz, 1 lz4/lz4hc, 2 snappy,
  *                     3 zlib, 4 zstd
  *   byte 3  typesize
  *   4..7    nbytes    (uncompressed size)
  *   8..11   blocksize
  *   12..15  cbytes    (total compressed size incl. header)
  * }}}
  *
  * memcpy'ed buffers carry the raw bytes right after the header. Otherwise
  * the header is followed by one int32 `bstart` per block (offset from the
  * BUFFER START to that block's data, nblocks = ceil(nbytes/blocksize)).
  * Each block holds `nsplits` streams, each an int32 compressed-size
  * prefix + payload; a split whose compressed size equals its uncompressed
  * size is stored raw. A block is split into `typesize` per-byte-lane
  * streams exactly when the dont-split flag is clear, typesize <= 16,
  * block elements >= 128, the block is not the trailing partial block, and
  * typesize divides the block size — the c-blosc 1.14+ rule, which the
  * flag makes forward-compatible. The byte-shuffle filter transposes each
  * block element-major -> byte-lane-major before compression (trailing
  * bytes that don't fill an element pass through untouched).
  *
  * Codec payloads are the standard public formats — LZ4 block, zstd
  * frame, zlib stream, raw snappy — decoded with the public libraries
  * Spark itself bundles (lz4-java, zstd-jni, snappy-java, java.util.zip)
  * — plus blosclz (code 0), c-blosc's own FastLZ-derived LZ77, decoded
  * here from its public instruction format (c-blosc `blosclz.c`; see
  * [[blosclzDecompress]]). Both filters decode: byte-shuffle (flag bit 0)
  * and bit-shuffle (flag bit 2, Masui's bitshuffle as vendored by c-blosc
  * — see [[bitUnshuffle]]). That closes the numcodecs `Blosc(...)`
  * parameter space: every (cname, shuffle) combination zarr-python can
  * write now reads.
  */
object Blosc {

  private val MaxSplits = 16 // c-blosc MAX_SPLITS
  private val MinElemsForSplit = 128 // c-blosc MIN_BUFFERSIZE

  private def lz4Factory = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()

  /** Decode one c-blosc 1.x buffer to its raw bytes. Executor-side. */
  def decompress(raw: Array[Byte]): Array[Byte] = {
    require(raw.length >= 16,
      s"ZarrCorrupt: blosc buffer is ${raw.length} bytes (< 16-byte header)")
    val version = raw(0) & 0xff
    require(version >= 1 && version <= 2,
      s"ZarrUnsupported: blosc format version $version (c-blosc 1.x " +
        "buffers only — c-blosc2 frames are a different container)")
    val flags = raw(2) & 0xff
    val typesize = raw(3) & 0xff
    val bb = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    val cbytes = bb.getInt(12)
    require(nbytes >= 0 && cbytes >= 16 && cbytes <= raw.length,
      s"ZarrCorrupt: blosc header sizes nbytes=$nbytes cbytes=$cbytes " +
        s"in a ${raw.length}-byte buffer")
    if (nbytes == 0) return Array.emptyByteArray
    if ((flags & 0x2) != 0) { // memcpy'ed: raw bytes follow the header
      require(raw.length >= 16 + nbytes,
        s"ZarrCorrupt: memcpy'ed blosc buffer holds ${raw.length - 16} of " +
          s"$nbytes bytes")
      return java.util.Arrays.copyOfRange(raw, 16, 16 + nbytes)
    }
    require(blocksize > 0,
      s"ZarrCorrupt: blosc blocksize $blocksize with nbytes $nbytes")
    val codec = (flags >> 5) & 0x7
    require(codec >= 0 && codec <= 4,
      s"ZarrUnsupported: blosc compressor code $codec")
    val dontSplit = (flags & 0x10) != 0
    val doShuffle = (flags & 0x1) != 0 && typesize > 1
    val doBitShuffle = (flags & 0x4) != 0
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val leftover = nbytes % blocksize
    require(raw.length >= 16 + 4 * nblocks,
      s"ZarrCorrupt: blosc buffer too short for its $nblocks block starts")
    val out = new Array[Byte](nbytes)
    val block = new Array[Byte](blocksize)
    var j = 0
    while (j < nblocks) {
      val bstart = bb.getInt(16 + 4 * j)
      val lastPartial = j == nblocks - 1 && leftover != 0
      val bsize = if (lastPartial) leftover else blocksize
      val nsplits =
        if (!dontSplit && typesize > 0 && typesize <= MaxSplits &&
          bsize / typesize >= MinElemsForSplit && !lastPartial &&
          bsize % typesize == 0) typesize
        else 1
      val neblock = bsize / nsplits
      var src = bstart
      var s = 0
      while (s < nsplits) {
        require(src >= 0 && src + 4 <= raw.length,
          s"ZarrCorrupt: blosc split prefix at $src of ${raw.length}")
        val cb = bb.getInt(src); src += 4
        require(cb >= 0 && cb <= raw.length - src,
          s"ZarrCorrupt: blosc split spans [$src, ${src.toLong + cb}) of " +
            s"a ${raw.length}-byte buffer")
        val destOff = s * neblock
        if (cb == neblock)
          System.arraycopy(raw, src, block, destOff, neblock)
        else codec match {
          case 0 => // blosclz: c-blosc's own LZ77 stream
            blosclzDecompress(raw, src, cb, block, destOff, neblock)
          case 1 => // lz4 / lz4hc: LZ4 block format
            val n = lz4Factory.safeDecompressor()
              .decompress(raw, src, cb, block, destOff)
            require(n == neblock,
              s"ZarrCorrupt: blosc lz4 split decoded $n of $neblock bytes")
          case 2 => // raw snappy
            val dec = org.xerial.snappy.Snappy.uncompress(
              java.util.Arrays.copyOfRange(raw, src, src + cb))
            require(dec.length == neblock,
              s"ZarrCorrupt: blosc snappy split decoded ${dec.length} of " +
                s"$neblock bytes")
            System.arraycopy(dec, 0, block, destOff, neblock)
          case 3 => // zlib stream
            val dec = ZarrReader.inflate(raw, src, cb)
            require(dec.length == neblock,
              s"ZarrCorrupt: blosc zlib split decoded ${dec.length} of " +
                s"$neblock bytes")
            System.arraycopy(dec, 0, block, destOff, neblock)
          case 4 => // zstd frame
            val dec = zstdDecompress(
              java.util.Arrays.copyOfRange(raw, src, src + cb))
            require(dec.length == neblock,
              s"ZarrCorrupt: blosc zstd split decoded ${dec.length} of " +
                s"$neblock bytes")
            System.arraycopy(dec, 0, block, destOff, neblock)
        }
        src += cb
        s += 1
      }
      if (doBitShuffle) bitUnshuffle(typesize, bsize, block, out, j * blocksize)
      else if (doShuffle) unshuffle(typesize, bsize, block, out, j * blocksize)
      else System.arraycopy(block, 0, out, j * blocksize, bsize)
      j += 1
    }
    out
  }

  /** Decode one blosclz stream (c-blosc codec 0) into
    * `dest[destOff, destOff + outLen)`. The instruction format is public
    * (c-blosc `blosclz.c`, itself FastLZ-derived):
    *
    *  - the FIRST control byte is always a literal run (the decoder masks
    *    it `& 31`);
    *  - ctrl < 32: a literal run of `ctrl + 1` bytes follows;
    *  - ctrl >= 32: a back-reference. Length: `L = (ctrl >> 5) + 2`,
    *    except `ctrl >> 5 == 7` marks the extended form — extension bytes
    *    accumulate (continuing while a byte is 255) and
    *    `L = 9 + sum(extension bytes)`. Then one `code` byte: near
    *    distance `d = ((ctrl & 31) << 8) + code + 1`, except
    *    `code == 255 && (ctrl & 31) == 31` marks a far match — two more
    *    big-endian bytes `ofs16` give `d = ofs16 + 8192` (MAX_DISTANCE is
    *    8191). `d == 1` repeats the previous byte (RLE); overlapping
    *    forward copy otherwise.
    *
    * Matches may only reference bytes inside THIS split's output (each
    * split compresses independently).
    */
  private[sources] def blosclzDecompress(raw: Array[Byte], srcOff: Int,
      cb: Int, dest: Array[Byte], destOff: Int, outLen: Int): Unit = {
    require(cb > 0, "ZarrCorrupt: empty blosclz stream")
    var ip = srcOff
    val ipEnd = srcOff + cb
    var op = destOff
    val opEnd = destOff + outLen
    var ctrl = raw(ip) & 31
    ip += 1
    var done = false
    while (!done) {
      if (ctrl >= 32) {
        var len = (ctrl >> 5) - 1
        val ofs = (ctrl & 31) << 8
        if (len == 6) {
          var ext = 0
          do {
            require(ip < ipEnd,
              "ZarrCorrupt: blosclz length extension past the stream")
            ext = raw(ip) & 0xff; ip += 1
            len += ext
          } while (ext == 255)
        }
        require(ip < ipEnd, "ZarrCorrupt: blosclz distance past the stream")
        val code = raw(ip) & 0xff
        ip += 1
        len += 3
        var d = ofs + code + 1
        if (code == 255 && ofs == (31 << 8)) {
          require(ip + 2 <= ipEnd,
            "ZarrCorrupt: blosclz far distance past the stream")
          d = (((raw(ip) & 0xff) << 8) | (raw(ip + 1) & 0xff)) + 8192
          ip += 2
        }
        require(op + len <= opEnd,
          s"ZarrCorrupt: blosclz match overruns the $outLen-byte output")
        var ref = op - d
        require(ref >= destOff,
          "ZarrCorrupt: blosclz match reaches before the split start")
        var i = 0
        while (i < len) { dest(op + i) = dest(ref + i); i += 1 }
        op += len
      } else {
        val run = ctrl + 1
        require(ip + run <= ipEnd,
          "ZarrCorrupt: blosclz literal run past the stream")
        require(op + run <= opEnd,
          s"ZarrCorrupt: blosclz literals overrun the $outLen-byte output")
        System.arraycopy(raw, ip, dest, op, run)
        ip += run
        op += run
      }
      if (ip < ipEnd) { ctrl = raw(ip) & 0xff; ip += 1 }
      else done = true
    }
    require(op == opEnd,
      s"ZarrCorrupt: blosclz decoded ${op - destOff} of $outLen bytes")
  }

  /** Greedy blosclz encoder (fixture + zarr-sink side): 3-byte hash table,
    * matches extended maximally, literal runs of <= 32 — every emitted
    * instruction is exactly the format [[blosclzDecompress]] documents, so
    * any conforming decoder (c-blosc's included) reads it. Worst case
    * grows by 1/32; the container's raw-store fallback absorbs that.
    */
  private[sources] def blosclzCompress(data: Array[Byte], off: Int,
      len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    val end = off + len
    val HLog = 14
    val htab = new Array[Int](1 << HLog)
    java.util.Arrays.fill(htab, -1)
    def hash(p: Int): Int = {
      val v = (data(p) & 0xff) | ((data(p + 1) & 0xff) << 8) |
        ((data(p + 2) & 0xff) << 16)
      ((v * 2654435761L) >>> (32 - HLog)).toInt & ((1 << HLog) - 1)
    }
    var anchor = off
    def flushLiterals(upTo: Int): Unit = {
      var a = anchor
      while (a < upTo) {
        val run = math.min(32, upTo - a)
        out.write(run - 1)
        out.write(data, a, run)
        a += run
      }
      anchor = upTo
    }
    def emitMatch(d: Int, lTot: Int): Unit = {
      val far = d > 8191
      val low5 = if (far) 31 else (d - 1) >> 8
      val code = if (far) 255 else (d - 1) & 0xff
      if (lTot <= 8) out.write(((lTot - 2) << 5) | low5)
      else {
        out.write((7 << 5) | low5)
        var rem = lTot - 9
        while (rem >= 255) { out.write(255); rem -= 255 }
        out.write(rem)
      }
      out.write(code)
      if (far) {
        val o = d - 8192
        out.write((o >> 8) & 0xff)
        out.write(o & 0xff)
      }
    }
    val maxFar = 8191 + 65534 // c-blosc MAX_FARDISTANCE
    var ip = off
    while (ip + 3 <= end) {
      val h = hash(ip)
      val j = htab(h)
      htab(h) = ip
      var mlen = 0
      if (j >= off && j < ip && ip - j <= maxFar &&
        data(j) == data(ip) && data(j + 1) == data(ip + 1) &&
        data(j + 2) == data(ip + 2)) {
        mlen = 3
        while (ip + mlen < end && data(j + mlen) == data(ip + mlen)) mlen += 1
      }
      if (mlen >= 3) {
        flushLiterals(ip)
        emitMatch(ip - j, mlen)
        var p = ip + 1
        val stop = math.min(ip + mlen, end - 3)
        while (p < stop) { htab(hash(p)) = p; p += 1 }
        ip += mlen
        anchor = ip
      } else ip += 1
    }
    flushLiterals(end)
    out.toByteArray
  }

  /** Inverse bit-shuffle of one block (c-blosc flag bit 2 — Masui's
    * bitshuffle as c-blosc vendors it). Layout, derived from the public
    * bitshuffle core (`bshuf_trans_bit_elem` = byte-transpose, then
    * bit-plane transpose, then the bitrow regroup): with
    * `nelem = bsize / typesize` and `n8 = nelem - nelem % 8` (bitshuffle
    * handles whole groups of 8 elements only), the first `n8 * typesize`
    * bytes hold, for each element-byte lane `k` and bit `b`, a plane of
    * `n8 / 8` bytes at row `(k*8 + b)`, where bit `e` of plane byte `w` is
    * bit `b` of byte `k` of element `8w + e`. All remaining bytes
    * (leftover elements + trailing partial element) are copied verbatim —
    * the c-blosc leftover rule.
    */
  private[sources] def bitUnshuffle(typesize: Int, bsize: Int,
      src: Array[Byte], dest: Array[Byte], destOff: Int): Unit = {
    val nelem = bsize / typesize
    val n8 = nelem - (nelem % 8)
    val nwords = n8 / 8
    // dest must start zeroed in [destOff, destOff + n8*typesize) — decode
    // writes into a freshly-allocated output buffer, so it does
    var k = 0
    while (k < typesize) {
      var b = 0
      while (b < 8) {
        val row = (k * 8 + b) * nwords
        var w = 0
        while (w < nwords) {
          val v = src(row + w) & 0xff
          if (v != 0) {
            var e = 0
            while (e < 8) {
              if (((v >> e) & 1) != 0) {
                val pos = destOff + (8 * w + e) * typesize + k
                dest(pos) = (dest(pos) | (1 << b)).toByte
              }
              e += 1
            }
          }
          w += 1
        }
        b += 1
      }
      k += 1
    }
    val body = n8 * typesize
    if (bsize > body)
      System.arraycopy(src, body, dest, destOff + body, bsize - body)
  }

  /** Forward bit-shuffle of one block (writer side; exact inverse of
    * [[bitUnshuffle]]).
    */
  private[sources] def bitShuffleBlock(typesize: Int, bsize: Int,
      src: Array[Byte], srcOff: Int, dest: Array[Byte]): Unit = {
    java.util.Arrays.fill(dest, 0, bsize, 0.toByte)
    val nelem = bsize / typesize
    val n8 = nelem - (nelem % 8)
    val nwords = n8 / 8
    var k = 0
    while (k < typesize) {
      var b = 0
      while (b < 8) {
        val row = (k * 8 + b) * nwords
        var w = 0
        while (w < nwords) {
          var acc = 0
          var e = 0
          while (e < 8) {
            acc |= ((src(srcOff + (8 * w + e) * typesize + k) >> b) & 1) << e
            e += 1
          }
          dest(row + w) = acc.toByte
          w += 1
        }
        b += 1
      }
      k += 1
    }
    val body = n8 * typesize
    if (bsize > body)
      System.arraycopy(src, srcOff + body, dest, body, bsize - body)
  }

  /** Inverse byte-shuffle of one block: src holds byte-lane-major order
    * (all 0th bytes of the block's elements, then all 1st, ...); write
    * element-major into `dest` at `destOff`. Bytes past the last whole
    * element pass through unshuffled (the c-blosc remainder rule).
    */
  private def unshuffle(typesize: Int, bsize: Int, src: Array[Byte],
      dest: Array[Byte], destOff: Int): Unit = {
    val nelem = bsize / typesize
    var k = 0
    while (k < typesize) {
      val lane = k * nelem
      var e = 0
      while (e < nelem) {
        dest(destOff + e * typesize + k) = src(lane + e)
        e += 1
      }
      k += 1
    }
    val rem = bsize - nelem * typesize
    if (rem > 0)
      System.arraycopy(src, bsize - rem, dest, destOff + bsize - rem, rem)
  }

  /** Byte-shuffle one block (forward filter, writer side). */
  private def shuffle(typesize: Int, bsize: Int, src: Array[Byte],
      srcOff: Int, dest: Array[Byte]): Unit = {
    val nelem = bsize / typesize
    var k = 0
    while (k < typesize) {
      val lane = k * nelem
      var e = 0
      while (e < nelem) {
        dest(lane + e) = src(srcOff + e * typesize + k)
        e += 1
      }
      k += 1
    }
    val rem = bsize - nelem * typesize
    if (rem > 0)
      System.arraycopy(src, srcOff + bsize - rem, dest, bsize - rem, rem)
  }

  /** Compress to a c-blosc 1.x buffer (fixture + zarr-sink side), laid out
    * the way c-blosc >= 1.14 would: blocks split into byte lanes for
    * blosclz/lz4 (the forward-compat split mode), dont-split flag set for
    * zstd/zlib/snappy, incompressible buffers memcpy'ed. `cname` is one of
    * blosclz, lz4, zstd, zlib, snappy. `bitShuffle` applies the bit-plane
    * filter instead of the byte filter (numcodecs `shuffle=2`); the two
    * are mutually exclusive, as in the c-blosc API.
    */
  def compress(data: Array[Byte], typesize: Int, cname: String,
      byteShuffle: Boolean, blocksizeHint: Int = 0,
      bitShuffle: Boolean = false): Array[Byte] = {
    require(typesize >= 1 && typesize <= 255, s"blosc typesize $typesize")
    require(!(byteShuffle && bitShuffle),
      "blosc: byteShuffle and bitShuffle are mutually exclusive")
    val codec = cname match {
      case "blosclz" => 0
      case "lz4" | "lz4hc" => 1
      case "snappy" => 2
      case "zlib" => 3
      case "zstd" => 4
      case other => throw new IllegalArgumentException(
        s"ZarrUnsupported: blosc cname $other")
    }
    val nbytes = data.length
    val blocksize0 =
      if (blocksizeHint > 0) blocksizeHint
      else math.min(math.max(nbytes, typesize), 64 * 1024)
    // c-blosc forces the blocksize to a multiple of typesize
    val blocksize = math.max(blocksize0 - blocksize0 % typesize, typesize)
    val dontSplit = codec > 1 // forward-compat split: blosclz + lz4 only
    val doShuffle = byteShuffle && typesize > 1
    val nblocks = if (nbytes == 0) 0
      else ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val leftover = if (nbytes == 0) 0 else nbytes % blocksize
    val body = new java.io.ByteArrayOutputStream(nbytes / 2 + 64)
    val bstarts = new Array[Int](nblocks)
    val shuffled = new Array[Byte](blocksize)
    var j = 0
    while (j < nblocks) {
      val lastPartial = j == nblocks - 1 && leftover != 0
      val bsize = if (lastPartial) leftover else blocksize
      val blockSrc: Array[Byte] =
        if (bitShuffle) { bitShuffleBlock(typesize, bsize, data, j * blocksize, shuffled); shuffled }
        else if (doShuffle) { shuffle(typesize, bsize, data, j * blocksize, shuffled); shuffled }
        else data
      val blockOff = if (bitShuffle || doShuffle) 0 else j * blocksize
      val nsplits =
        if (!dontSplit && typesize <= MaxSplits &&
          bsize / typesize >= MinElemsForSplit && !lastPartial &&
          bsize % typesize == 0) typesize
        else 1
      val neblock = bsize / nsplits
      bstarts(j) = 16 + 4 * nblocks + body.size()
      var s = 0
      while (s < nsplits) {
        val off = blockOff + s * neblock
        val enc: Array[Byte] = codec match {
          case 0 => blosclzCompress(blockSrc, off, neblock)
          case 1 =>
            val c = lz4Factory.fastCompressor()
            val max = c.maxCompressedLength(neblock)
            val buf = new Array[Byte](max)
            val n = c.compress(blockSrc, off, neblock, buf, 0, max)
            java.util.Arrays.copyOf(buf, n)
          case 2 => org.xerial.snappy.Snappy.compress(
            java.util.Arrays.copyOfRange(blockSrc, off, off + neblock))
          case 3 =>
            val d = new java.util.zip.Deflater(5)
            d.setInput(blockSrc, off, neblock); d.finish()
            val o = new java.io.ByteArrayOutputStream(neblock)
            val tmp = new Array[Byte](8192)
            while (!d.finished()) o.write(tmp, 0, d.deflate(tmp))
            d.end(); o.toByteArray
          case 4 => com.github.luben.zstd.Zstd.compress(
            java.util.Arrays.copyOfRange(blockSrc, off, off + neblock), 3)
        }
        // a split that didn't shrink is stored raw, its size the marker
        val (emitLen, emit, emitOff) =
          if (enc.length >= neblock) (neblock, blockSrc, off)
          else (enc.length, enc, 0)
        val pre = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(emitLen)
        body.write(pre.array())
        body.write(emit, emitOff, emitLen)
        s += 1
      }
      j += 1
    }
    val compressedSize = 16 + 4 * nblocks + body.size()
    if (compressedSize >= nbytes + 16 && nbytes > 0) {
      // incompressible: c-blosc rewrites the buffer memcpy'ed
      val out = java.nio.ByteBuffer.allocate(16 + nbytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put(2.toByte).put(1.toByte)
        .put(0x2.toByte).put(typesize.toByte)
        .putInt(nbytes).putInt(blocksize).putInt(16 + nbytes)
      out.put(data)
      return out.array()
    }
    val flags = (if (doShuffle) 0x1 else 0) | (if (bitShuffle) 0x4 else 0) |
      (if (dontSplit) 0x10 else 0) | (codec << 5)
    val out = java.nio.ByteBuffer.allocate(compressedSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(2.toByte).put(1.toByte)
      .put(flags.toByte).put(typesize.toByte)
      .putInt(nbytes).putInt(blocksize).putInt(compressedSize)
    bstarts.foreach(out.putInt)
    out.put(body.toByteArray)
    out.array()
  }

  /** Decode one zstd frame, size-agnostic (the frame header's content size
    * is honored when present; streaming otherwise). zstd-jni ships inside
    * Spark's own jar set.
    */
  def zstdDecompress(frame: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(frame))
    try in.readAllBytes() finally in.close()
  }

  /** Encode one zstd frame (content size embedded — what numcodecs' Zstd
    * and the zarr v3 `zstd` codec both write).
    */
  def zstdCompress(data: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data, level)

  /** numcodecs `LZ4` format: uint32-LE original-size prefix + LZ4 block. */
  def lz4NumcodecsDecompress(raw: Array[Byte]): Array[Byte] = {
    require(raw.length >= 4,
      s"ZarrCorrupt: lz4 buffer is ${raw.length} bytes (< 4-byte size prefix)")
    val n = java.nio.ByteBuffer.wrap(raw, 0, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    require(n >= 0, s"ZarrCorrupt: lz4 size prefix $n")
    val out = new Array[Byte](n)
    val got = lz4Factory.safeDecompressor()
      .decompress(raw, 4, raw.length - 4, out, 0)
    require(got == n, s"ZarrCorrupt: lz4 buffer decoded $got of $n bytes")
    out
  }
}
