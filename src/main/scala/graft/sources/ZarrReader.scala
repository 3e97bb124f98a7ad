package graft.sources

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM zarr v2 AND v3 reader — the real pixel path for `load_stac`'s
  * zarr assets (reference: cubes/load.py:245-304 opens zarr items through
  * xarray; both formats are public specs: a directory store holding a JSON
  * descriptor — `.zarray` for v2, `zarr.json` for v3 — plus one file per
  * chunk, C-order binary, optionally deflate-compressed — all decodable
  * with nothing but the JDK).
  *
  * Distribution shape: the driver reads ONLY the kilobyte metadata
  * document and lists chunk keys; this object holds the metadata, planning
  * and codec primitives, and the DataSourceV2 cube scan
  * ([[graft.sources.v2.CubeSource]]) is the one reader that turns chunk
  * bytes into rows — each executor task reads, inflates and unpacks its
  * own chunk files, so a thousand-chunk store spreads over the cluster
  * with no driver data path. [[loadArray]] is an index-column projection
  * over that scan.
  *
  * v2 support: dtypes `<f8 <f4 <i8 <i4 <i2 |i1 |u1 >f8 >f4 >i8 >i4 >i2`,
  * compressor `null`, `zlib`, `gzip`, `zstd`, numcodecs `lz4`, or `blosc`
  * (the zarr-python DEFAULT — decoded pure-JVM by [[Blosc]]: container
  * header, per-block splits, byte-shuffle AND bit-shuffle filters,
  * blosclz/lz4/lz4hc/zstd/zlib/snappy payloads), order C,
  * flat "." or nested "/" chunk keys, any rank; edge chunks are padded
  * per the spec and clipped against `shape` on read; absent chunks
  * materialize `fill_value`.
  *
  * v3 support (zarr.json, `zarr_format: 3`): named data types
  * float64/float32/int64/int32/int16/int8/uint8, regular chunk grid,
  * `default` ("c"-prefixed, "/" or "." separator) and `v2` chunk key
  * encodings, codec chains `[transpose?, bytes]`,
  * `[transpose?, bytes, gzip|zstd|blosc]` (the `transpose` array->array
  * codec — F-order and arbitrary axis permutations — undone at unpack
  * time), each
  * optionally followed by `crc32c` (checksum VERIFIED per chunk on the
  * executor), `fill_value` incl. the draft "NaN"/"Infinity" string forms,
  * `dimension_names`, and the `sharding_indexed` codec (one shard file =
  * an inner-chunk grid + an indexed footer, index crc32c verified; the
  * task that owns a shard decodes all of it — the v3 feature that keeps a
  * 100-TB store's object count sane). Unsupported codecs raise a NAMED
  * ZarrUnsupported error.
  */
object ZarrReader {

  /** v3 `sharding_indexed` layout: each top-level chunk (the SHARD) is one
    * file holding a grid of `innerChunks`-shaped sub-chunks plus an index
    * of (offset, nbytes) uint64-LE pairs in C order over the inner grid —
    * at the file's start or end per `index_location`, optionally crc32c'd.
    * Missing inner chunks are encoded as offset = nbytes = 2^64−1.
    */
  final case class ShardMeta(innerChunks: Seq[Int],
      innerCompressor: Option[String], innerCrc32c: Boolean,
      innerEndian: String, indexCrc32c: Boolean, indexAtEnd: Boolean,
      innerTranspose: Option[Seq[Int]] = None)

  final case class ZarrMeta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: Option[String], order: String, fillValue: Option[Double],
      separator: String = ".", format: Int = 2, crc32c: Boolean = false,
      keyEncoding: String = "v2", dimensionNames: Option[Seq[String]] = None,
      shard: Option[ShardMeta] = None,
      transpose: Option[Seq[Int]] = None) {
    /** Store-relative chunk path for a grid index (encoding-aware). */
    def keyOf(idx: Seq[Int]): String =
      if (format == 3 && keyEncoding == "default")
        ("c" +: idx.map(_.toString)).mkString(separator)
      else idx.mkString(separator)
  }

  /** numcodecs compressor ids this reader decodes on the v2 path. blosc is
    * the zarr-python DEFAULT (`Blosc(cname='lz4', shuffle=SHUFFLE)`) —
    * [[Blosc]] decodes the container pure-JVM; lz4 is numcodecs' raw
    * size-prefixed LZ4; zstd/gzip/zlib are their standard streams.
    */
  val V2Compressors: Set[String] = Set("zlib", "gzip", "blosc", "zstd", "lz4")

  def readMeta(dir: String): ZarrMeta = {
    val v3Path = java.nio.file.Paths.get(dir, "zarr.json")
    if (java.nio.file.Files.exists(v3Path))
      readMetaV3(new String(java.nio.file.Files.readAllBytes(v3Path), "UTF-8"))
    else readMetaV2(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ".zarray")), "UTF-8"))
  }

  private def readMetaV2(text: String): ZarrMeta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(text)
    def ints(field: String): Seq[Int] = (root \ field) match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toInt
        case v => throw new IllegalArgumentException(s"bad $field entry $v")
      }
      case v => throw new IllegalArgumentException(s"bad $field: $v")
    }
    val dtype = (root \ "dtype") match {
      case JString(s) => s
      case v => throw new IllegalArgumentException(s"bad dtype: $v")
    }
    val comp = (root \ "compressor") match {
      case JNull | JNothing => None
      case o => (o \ "id") match {
        case JString(id) => Some(id)
        case _ => throw new IllegalArgumentException(s"bad compressor: $o")
      }
    }
    val order = (root \ "order") match {
      case JString(s) => s
      case _ => "C"
    }
    val fill = (root \ "fill_value") match {
      case JInt(i) => Some(i.toDouble)
      case JDouble(d) => Some(d)
      case JString("NaN") => Some(Double.NaN)
      case _ => None
    }
    // v2.8+ optional key: "." (flat, default) or "/" (nested chunk dirs)
    val sep = (root \ "dimension_separator") match {
      case JString(s) => s
      case _ => "."
    }
    require(order == "C", s"ZarrUnsupported: order $order (C only)")
    require(sep == "." || sep == "/",
      s"ZarrUnsupported: dimension_separator '$sep'")
    comp.foreach(c => require(V2Compressors(c),
      s"ZarrUnsupported: compressor $c (null, ${V2Compressors.mkString(", ")} only)"))
    ZarrMeta(ints("shape"), ints("chunks"), dtype, comp, order, fill, sep)
  }

  /** zarr v3 `zarr.json` array metadata → the same normalized [[ZarrMeta]]
    * the v2 path produces (`dtype` re-expressed in v2 struct notation so
    * one [[unpack]] serves both formats).
    */
  private def readMetaV3(text: String): ZarrMeta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(text)
    (root \ "zarr_format") match {
      case JInt(v) if v == 3 =>
      case v => throw new IllegalArgumentException(s"ZarrCorrupt: zarr_format $v in zarr.json")
    }
    (root \ "node_type") match {
      case JString("array") =>
      case v => throw new IllegalArgumentException(
        s"ZarrUnsupported: node_type $v (array only — open the array node, not the group)")
    }
    def ints(j: JValue, what: String): Seq[Int] = j match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toInt
        case v => throw new IllegalArgumentException(s"bad $what entry $v")
      }
      case v => throw new IllegalArgumentException(s"bad $what: $v")
    }
    val shape = ints(root \ "shape", "shape")
    val chunks = (root \ "chunk_grid") match {
      case g =>
        (g \ "name") match {
          case JString("regular") =>
          case v => throw new IllegalArgumentException(s"ZarrUnsupported: chunk_grid $v")
        }
        ints(g \ "configuration" \ "chunk_shape", "chunk_shape")
    }
    // codec chain: [bytes(endian)] [+ gzip|zlib] [+ crc32c], or ONE
    // sharding_indexed codec carrying such a chain for its inner chunks
    def codecList(j: JValue, what: String): Seq[(String, JValue)] = j match {
      case JArray(cs) => cs.map { c =>
        val name = (c \ "name") match {
          case JString(s) => s
          case v => throw new IllegalArgumentException(s"bad codec in $what: $v")
        }
        name -> (c \ "configuration")
      }
      case v => throw new IllegalArgumentException(s"bad $what: $v")
    }
    def parseChain(cs0: Seq[(String, JValue)], what: String, rank: Int)
        : (String, Option[String], Boolean, Option[Seq[Int]]) = {
      // the one REGISTERED array->array codec: `transpose` ahead of
      // `bytes` — its `order` permutation is undone at unpack time
      // ([[untranspose]]); identity orders are dropped here
      val (transpose, cs) = cs0 match {
        case ("transpose", conf) +: rest =>
          val ord = ints(conf \ "order", "transpose order")
          require(ord.size == rank && ord.sorted == (0 until rank),
            s"ZarrUnsupported: transpose order $ord is not a permutation " +
              s"of 0..${rank - 1} in $what")
          (Some(ord).filter(_ != (0 until rank).toSeq), rest)
        case _ => (None, cs0)
      }
      require(cs.nonEmpty && cs.head._1 == "bytes",
        s"ZarrUnsupported: $what ${cs0.map(_._1).mkString("[", ",", "]")} " +
          "(must start with [transpose?, bytes])")
      val endian = (cs.head._2 \ "endian") match {
        case JString(e) => e
        case _ => "little"
      }
      var compressor: Option[String] = None
      var crc = false
      cs.tail.foreach {
        // gzip, zstd and blosc are the REGISTERED v3 bytes->bytes codecs
        // this reader decodes ("zlib" is a v2-only numcodecs id — kept off
        // the v3 chain so our acceptance matches conforming writers)
        case ("gzip", _) if compressor.isEmpty && !crc => compressor = Some("gzip")
        case ("zstd", _) if compressor.isEmpty && !crc => compressor = Some("zstd")
        case ("blosc", _) if compressor.isEmpty && !crc => compressor = Some("blosc")
        case ("crc32c", _) if !crc => crc = true
        case (other, _) => throw new IllegalArgumentException(
          s"ZarrUnsupported: codec $other in $what (bytes + gzip/zstd/blosc + crc32c only)")
      }
      (endian, compressor, crc, transpose)
    }
    val codecs = codecList(root \ "codecs", "codecs")
    val (endian, compressor, crc, shardMeta, transposeOrd) =
      if (codecs.map(_._1) == Seq("sharding_indexed")) {
        val conf = codecs.head._2
        val inner = ints(conf \ "chunk_shape", "sharding chunk_shape")
        val (ie, ic, icrc, itr) =
          parseChain(codecList(conf \ "codecs", "sharding codecs"),
            "sharding inner codecs", inner.size)
        val idxCrc = (conf \ "index_codecs") match {
          case JNothing | JNull => true // spec default: [bytes, crc32c]
          case j => codecList(j, "index_codecs").map(_._1) match {
            case Seq("bytes") => false
            case Seq("bytes", "crc32c") => true
            case other => throw new IllegalArgumentException(
              s"ZarrUnsupported: index_codecs ${other.mkString("[", ",", "]")}")
          }
        }
        val atEnd = (conf \ "index_location") match {
          case JString("start") => false
          case _ => true
        }
        (ie, ic, icrc,
          Some(ShardMeta(inner, ic, icrc, ie, idxCrc, atEnd, itr)), None)
      } else {
        val (e, c, cr, tr) = parseChain(codecs, "codec chain", shape.size)
        (e, c, cr, None, tr)
      }
    val code = (root \ "data_type") match {
      case JString("float64") => "f8"
      case JString("float32") => "f4"
      case JString("int64") => "i8"
      case JString("int32") => "i4"
      case JString("int16") => "i2"
      case JString("int8") => "i1"
      case JString("uint8") => "u1"
      case v => throw new IllegalArgumentException(s"ZarrUnsupported: data_type $v")
    }
    val dtype = (if (code == "i1" || code == "u1") "|"
      else if (endian == "big") ">" else "<") + code
    val fill = (root \ "fill_value") match {
      case JInt(i) => Some(i.toDouble)
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JString("NaN") => Some(Double.NaN)
      case JString("Infinity") => Some(Double.PositiveInfinity)
      case JString("-Infinity") => Some(Double.NegativeInfinity)
      case _ => None
    }
    val (keyEnc, sep) = (root \ "chunk_key_encoding") match {
      case JNothing | JNull => ("default", "/")
      case e =>
        val name = (e \ "name") match {
          case JString(s) => s
          case _ => "default"
        }
        val s = (e \ "configuration" \ "separator") match {
          case JString(x) => x
          case _ => if (name == "v2") "." else "/"
        }
        (name, s)
    }
    require(keyEnc == "default" || keyEnc == "v2",
      s"ZarrUnsupported: chunk_key_encoding $keyEnc")
    require(sep == "." || sep == "/", s"ZarrUnsupported: separator '$sep'")
    val dimNames = (root \ "dimension_names") match {
      case JArray(xs) => Some(xs.map {
        case JString(s) => s
        case v => v.toString
      })
      case _ => None
    }
    shardMeta.foreach { sm =>
      require(sm.innerChunks.size == chunks.size &&
        sm.innerChunks.zip(chunks).forall { case (i, o) => i > 0 && o % i == 0 },
        s"ZarrCorrupt: sharding inner chunk_shape ${sm.innerChunks} does not " +
          s"evenly divide the shard shape $chunks")
    }
    ZarrMeta(shape, chunks, dtype, compressor, "C", fill, sep,
      format = 3, crc32c = crc, keyEncoding = keyEnc,
      dimensionNames = dimNames, shard = shardMeta,
      transpose = transposeOrd)
  }

  /** Undo the v3 `transpose` array->array codec: the stored chunk holds
    * the logical chunk with its axes permuted by `order` (C-order over the
    * permuted shape, stored shape S'(k) = S(order(k)), and stored element
    * (j_0..j_{n-1}) = logical element with i_{order(k)} = j_k — the zarr
    * v3 transpose codec spec). Returns the chunk in logical C-order.
    */
  private[sources] def untranspose(vals: Array[Double], shape: Seq[Int],
      order: Seq[Int]): Array[Double] = {
    val rank = shape.size
    val permShape = Array.tabulate(rank)(k => shape(order(k)))
    val permStrides = new Array[Int](rank)
    val logStrides = new Array[Int](rank)
    permStrides(rank - 1) = 1
    logStrides(rank - 1) = 1
    var d = rank - 2
    while (d >= 0) {
      permStrides(d) = permStrides(d + 1) * permShape(d + 1)
      logStrides(d) = logStrides(d + 1) * shape(d + 1)
      d -= 1
    }
    require(vals.length == permShape.product,
      s"ZarrCorrupt: transpose chunk holds ${vals.length} values, " +
        s"expected ${permShape.product}")
    val out = new Array[Double](vals.length)
    var f = 0
    while (f < vals.length) {
      var logFlat = 0
      var k = 0
      while (k < rank) {
        val jk = (f / permStrides(k)) % permShape(k)
        logFlat += jk * logStrides(order(k))
        k += 1
      }
      out(logFlat) = vals(f)
      f += 1
    }
    out
  }

  /** Chunk keys present in the store. v2 / v3-with-v2-encoding: flat file
    * names like "0.2.1" for the "." separator, or nested numeric
    * directories ("0/2/1") for "/". v3 default encoding: the same shapes
    * under the "c" prefix — nested "c/0/2/1" dirs or flat "c.0.2.1" files.
    * Driver-side listing only — names, not bytes.
    */
  def chunkKeys(dir: String, meta: ZarrMeta): Seq[Seq[Int]] = {
    val v3Default = meta.format == 3 && meta.keyEncoding == "default"
    def walk(f: java.io.File, prefix: Seq[Int]): Seq[Seq[Int]] = {
      val fs = f.listFiles(); if (fs == null) Nil
      else fs.toSeq.filter(_.getName.matches("[0-9]+")).flatMap { c =>
        if (c.isDirectory) walk(c, prefix :+ c.getName.toInt)
        else Seq(prefix :+ c.getName.toInt)
      }
    }
    val d = new java.io.File(dir)
    if (meta.separator == ".") {
      val prefix = if (v3Default) "c\\." else ""
      val files = d.listFiles().toSeq.map(_.getName)
        .filter(_.matches(prefix + "[0-9]+(\\.[0-9]+)*"))
      files.map(n => (if (v3Default) n.drop(2) else n)
        .split('.').toSeq.map(_.toInt))
    } else if (v3Default) walk(new java.io.File(d, "c"), Nil)
    else walk(d, Nil)
  }

  private def bytesPer(dtype: String): Int = dtype.substring(2).toInt

  /** Decode one chunk's raw (already-inflated) bytes into a C-order double
    * array — executor-side, allocation-light.
    */
  def unpack(bytes: Array[Byte], dtype: String): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.order(if (dtype.startsWith(">")) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / bytesPer(dtype)
    val out = new Array[Double](n)
    var i = 0
    dtype.substring(1) match {
      case "f8" => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case "f4" => while (i < n) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
      case "i8" => while (i < n) { out(i) = bb.getLong(i * 8).toDouble; i += 1 }
      case "i4" => while (i < n) { out(i) = bb.getInt(i * 4).toDouble; i += 1 }
      case "i2" => while (i < n) { out(i) = bb.getShort(i * 2).toDouble; i += 1 }
      case "i1" => while (i < n) { out(i) = bytes(i).toDouble; i += 1 }
      case "u1" => while (i < n) { out(i) = (bytes(i) & 0xff).toDouble; i += 1 }
      case other => throw new IllegalArgumentException(s"ZarrUnsupported: dtype $other")
    }
    out
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Undo a chunk's bytes→bytes codec chain (v3) or compressor (v2):
    * verify+strip the trailing little-endian crc32c when declared, then
    * decompress. Executor-side.
    */
  def decodeChunk(raw: Array[Byte], meta: ZarrMeta): Array[Byte] = {
    val body =
      if (!meta.crc32c) raw
      else {
        require(raw.length >= 4, "ZarrCorrupt: chunk shorter than its crc32c")
        val c = new java.util.zip.CRC32C()
        c.update(raw, 0, raw.length - 4)
        val want = java.nio.ByteBuffer.wrap(raw, raw.length - 4, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
        require(c.getValue == want,
          f"ZarrCorrupt: crc32c mismatch (stored $want%08x, computed ${c.getValue}%08x)")
        java.util.Arrays.copyOfRange(raw, 0, raw.length - 4)
      }
    meta.compressor match {
      case Some("zlib") => inflate(body)
      case Some("gzip") => gunzip(body)
      case Some("blosc") => Blosc.decompress(body)
      case Some("zstd") => Blosc.zstdDecompress(body)
      case Some("lz4") => Blosc.lz4NumcodecsDecompress(body)
      case _ => body
    }
  }

  /** Decode one whole SHARD file into a C-order double array of the
    * shard's full (outer-chunk) shape: parse the (offset, nbytes) index —
    * verifying its crc32c when declared — then run each present inner
    * chunk through the inner codec chain ([[decodeChunk]]: the sharded
    * meta carries the INNER compressor/crc32c) and scatter it at its
    * origin; missing inner chunks (offset = nbytes = 2^64−1) stay
    * `fill_value`. Executor-side: the task that owns a shard decodes all
    * of it — one file read, no seeks shared across tasks.
    */
  def decodeShard(raw: Array[Byte], m: ZarrMeta): Array[Double] = {
    val sm = m.shard.getOrElse(
      throw new IllegalArgumentException("decodeShard on unsharded meta"))
    val rank = m.chunks.size
    val innerShape = sm.innerChunks.toArray
    val innerGrid = m.chunks.toArray.zip(innerShape).map { case (o, i) => o / i }
    val nInner = innerGrid.product
    val idxSize = nInner * 16 + (if (sm.indexCrc32c) 4 else 0)
    require(raw.length >= idxSize, "ZarrCorrupt: shard shorter than its index")
    val idxOff = if (sm.indexAtEnd) raw.length - idxSize else 0
    if (sm.indexCrc32c) {
      val c = new java.util.zip.CRC32C()
      c.update(raw, idxOff, nInner * 16)
      val want = java.nio.ByteBuffer.wrap(raw, idxOff + nInner * 16, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
      require(c.getValue == want,
        f"ZarrCorrupt: shard index crc32c mismatch (stored $want%08x, " +
          f"computed ${c.getValue}%08x)")
    }
    val idx = java.nio.ByteBuffer.wrap(raw, idxOff, nInner * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](m.chunks.product)
    // C-order strides over the shard array and the inner grid
    val shardStrides = new Array[Int](rank)
    val gridStrides = new Array[Int](rank)
    val innerStrides = new Array[Int](rank)
    shardStrides(rank - 1) = 1; gridStrides(rank - 1) = 1
    innerStrides(rank - 1) = 1
    var d = rank - 2
    while (d >= 0) {
      shardStrides(d) = shardStrides(d + 1) * m.chunks(d + 1)
      gridStrides(d) = gridStrides(d + 1) * innerGrid(d + 1)
      innerStrides(d) = innerStrides(d + 1) * innerShape(d + 1)
      d -= 1
    }
    var anyMissing = false
    var ci = 0
    while (ci < nInner) {
      val off = idx.getLong(idxOff + ci * 16)
      val len = idx.getLong(idxOff + ci * 16 + 8)
      if (off == -1L && len == -1L) anyMissing = true
      else {
        // subtraction form: off + len can overflow Long on corrupt indexes
        require(off >= 0 && len >= 0 && off <= raw.length &&
          len <= raw.length - off,
          s"ZarrCorrupt: inner chunk $ci spans [$off, +$len) of a " +
            s"${raw.length}-byte shard")
        val vals0 = unpack(decodeChunk(
          java.util.Arrays.copyOfRange(raw, off.toInt, (off + len).toInt), m),
          m.dtype)
        val vals =
          sm.innerTranspose.fold(vals0)(untranspose(vals0, sm.innerChunks, _))
        require(vals.length == innerShape.product,
          s"ZarrCorrupt: inner chunk $ci decoded ${vals.length} values, " +
            s"expected ${innerShape.product}")
        // scatter at the inner chunk's origin within the shard
        var f = 0
        while (f < vals.length) {
          var outFlat = 0
          var r = 0
          while (r < rank) {
            val ig = (ci / gridStrides(r)) % innerGrid(r)
            val local = (f / innerStrides(r)) % innerShape(r)
            outFlat += (ig * innerShape(r) + local) * shardStrides(r)
            r += 1
          }
          out(outFlat) = vals(f)
          f += 1
        }
      }
      ci += 1
    }
    if (anyMissing) {
      require(m.fillValue.isDefined,
        "ZarrCorrupt: shard has missing inner chunks but no fill_value")
      // fill AFTER scatter would overwrite data; instead pre-fill the
      // missing inner chunks' cells only
      var cj = 0
      while (cj < nInner) {
        val off = idx.getLong(idxOff + cj * 16)
        val len = idx.getLong(idxOff + cj * 16 + 8)
        if (off == -1L && len == -1L) {
          var f = 0
          val n = innerShape.product
          while (f < n) {
            var outFlat = 0
            var r = 0
            while (r < rank) {
              val ig = (cj / gridStrides(r)) % innerGrid(r)
              val local = (f / innerStrides(r)) % innerShape(r)
              outFlat += (ig * innerShape(r) + local) * shardStrides(r)
              r += 1
            }
            out(outFlat) = m.fillValue.get
            f += 1
          }
        }
        cj += 1
      }
    }
    out
  }

  def inflate(bytes: Array[Byte]): Array[Byte] =
    inflate(bytes, 0, bytes.length)

  def inflate(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes, off, len)
    val out = new java.io.ByteArrayOutputStream(len * 4)
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val k = inf.inflate(buf)
      if (k == 0 && inf.needsInput())
        throw new IllegalArgumentException("ZarrCorrupt: truncated zlib chunk")
      out.write(buf, 0, k)
    }
    inf.end()
    out.toByteArray
  }

  /** Chunk-grid extent pushdown: the grid indices whose chunk intersects
    * the requested per-dim global-index slices (inclusive bounds; a `None`
    * entry or an empty `slices` list means the full dimension). This is
    * the PLANNING step a small-extent read of a huge store rides on: only
    * intersecting chunk files are ever fanned out, read or decoded — the
    * zarr twin of the reference's dask lazy slicing after `odc.stac.load`
    * (cubes/load.py:245-310). For `sharding_indexed` stores the selection
    * is at shard (top-level chunk) granularity: a selected shard decodes
    * all its inner chunks.
    */
  private[graft] def planChunks(meta: ZarrMeta,
      slices: Seq[Option[(Long, Long)]]): Seq[Seq[Int]] = {
    val gridDims = meta.shape.zip(meta.chunks).map { case (s, c) => (s + c - 1) / c }
    require(slices.isEmpty || slices.size == gridDims.size,
      s"need ${gridDims.size} slices, got ${slices.size}")
    val ranges = gridDims.zipWithIndex.map { case (n, d) =>
      slices.lift(d).flatten match {
        case Some((lo, hi)) =>
          val c = meta.chunks(d).toLong
          val lo0 = math.max(0L, math.floorDiv(lo, c)).toInt
          val hi0 = math.min(n - 1L, math.floorDiv(hi, c)).toInt
          (lo0 to hi0): Seq[Int]
        case None => (0 until n): Seq[Int]
      }
    }
    if (ranges.exists(_.isEmpty)) Nil
    else ranges.foldLeft(Seq(Seq.empty[Int]))((acc, r) =>
      acc.flatMap(p => r.map(p :+ _)))
  }

  /** The chunk keys present in the store, checked against the `planned`
    * ones: a planned chunk ABSENT from the store reads as `fill_value`
    * (zarr semantics — writers omit all-fill chunks), so a store with
    * missing planned chunks but no declared fill_value is corrupt and
    * errors clearly. Driver-side listing only.
    */
  private[graft] def presentChunks(dir: String, meta: ZarrMeta,
      planned: Seq[Seq[Int]]): Set[Seq[Int]] = {
    val present = chunkKeys(dir, meta).toSet
    require(planned.forall(present.contains) || meta.fillValue.isDefined,
      "ZarrCorrupt: store has missing chunks but no fill_value")
    present
  }

  /** Load a rank-2 or rank-3 zarr array as a long-form DataFrame: one row
    * per in-bounds element, bigint index columns `dimNames` and a double
    * `value`. A projection over the store's one-asset cube scan, mounted
    * on its index grid ([[graft.sources.v2.CubeSource.unitZarr]]: x = col,
    * y = row, rank-3 axis 0 = the `band_<i>` suffix), so the chunk reads
    * are packed into core-sized partitions and every task decodes its own
    * chunk files.
    *
    * `slices` (optional, per-dim inclusive global-index ranges) become
    * x/y/bands filters, which the scan pushes down to [[planChunks]]
    * ranges — a bbox/time extent mapped onto the index grid reads only its
    * own chunks, never the whole store. Absent chunks read as
    * `fill_value` ([[presentChunks]]).
    */
  def loadArray(spark: SparkSession, dir: String,
      dimNames: Seq[String],
      slices: Seq[Option[(Long, Long)]] = Nil): DataFrame = {
    import v2.CubeSource.UnitBand
    val asset = v2.CubeSource.unitZarr(dir)
    val meta = asset.meta
    val rank = meta.shape.size
    require(dimNames.size == rank, s"need $rank dim names, got ${dimNames.size}")
    // a store without fill_value must hold every planned chunk: fail at
    // the call, as the scan itself would only at execution
    if (meta.fillValue.isEmpty) presentChunks(dir, meta, planChunks(meta, slices))
    // array axis → scan column: rank 3 adds axis 0 as `bands`
    val axes = (if (rank == 2) Nil else Seq("bands")) ++ Seq("y", "x")
    val cut = slices.zip(axes).collect {
      case (Some((lo, hi)), "bands") =>
        col("bands").isin((math.max(lo, 0L) to math.min(hi, meta.shape(0) - 1L))
          .map(i => s"${UnitBand}_$i"): _*)
      case (Some((lo, hi)), c) => col(c).between(lo, hi)
    }
    val index = axes.map {
      case "bands" => substring_index(col("bands"), "_", -1)
      case c => col(c)
    }
    cut.foldLeft(v2.CubeSource.frame(spark, Seq(asset)))(_.where(_))
      .select(index.zip(dimNames).map { case (c, n) => c.cast("bigint").as(n) }
        :+ col("value"): _*)
  }

  /** Cube wrapper with name-guessed dim types. */
  def loadCube(spark: SparkSession, dir: String,
      dimNames: Seq[String]): DataCube =
    DataCube.fromTable(loadArray(spark, dir, dimNames), dimNames, "value")
}
