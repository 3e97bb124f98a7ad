package graft

import graft.geo.Geo
import graft.pipeline.{Dedup, Importance, Mpeg1, Mpeg1Writer, Repetition,
  TextAnalysis}
import graft.sources.TiffReader
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms the specs pin the engine against: interpreted column
  * formulas the one-pass expressions must match bit for bit (and that the
  * DuckDB oracles mirror), inverse transforms that round-trip the engine's
  * forward ones, and encoders and decoders that build or read the engine's
  * inputs.
  */
object ReferenceForms {

  /** Hex-nibble column formula for `Dedup.simhashBitArray`: the 64 signed
    * SimHash bits of a token (±1, MSB-first md5 bits).
    */
  def simhashBitsHof(tok: Column): Column = {
    val h = md5(tok.cast("binary"))
    transform(sequence(lit(0), lit(63)), j => {
      val nib = instr(lit("0123456789abcdef"),
        substring(h, (j / 4).cast("int") + 1, lit(1))) - 1
      (floor(nib / pow(lit(2.0), lit(3) - j % 4)).cast("int") % 2) * 2 - 1
    })
  }

  /** HOF form of `Importance.dsirUnitsColumn`, interpreted per gram. */
  def dsirUnitsHofColumn(df: DataFrame, text: Column, isTarget: Column,
      buckets: Int = 512, scale: Long = 1000000L): Column = {
    val lrMap = Importance.censusWeights(df, text, isTarget, buckets, scale)
    coalesce(
      aggregate(Importance.featureGrams(text), lit(0L),
        (acc, gm) => acc + element_at(typedLit(lrMap),
          Importance.gramBucket(gm, buckets))),
      lit(0L))
  }

  /** Naive registered domain: the host's last two labels. The PSL-backed
    * `TextAnalysis.registeredDomain` must differ from it exactly where a
    * public suffix has more than one label (`shop.example.co.uk` groups
    * under `example.co.uk`, not `co.uk`).
    */
  def registeredDomainNaive(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** numcodecs `LZ4` encode (uint32-LE size prefix + LZ4 block). */
  def lz4NumcodecsCompress(data: Array[Byte]): Array[Byte] = {
    val c = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
    val max = c.maxCompressedLength(data.length)
    val buf = new Array[Byte](4 + max)
    java.nio.ByteBuffer.wrap(buf, 0, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(data.length)
    val n = c.compress(data, 0, data.length, buf, 4, max)
    java.util.Arrays.copyOf(buf, 4 + n)
  }

  /** One self-contained MPEG-1 elementary stream (sequence header + gray
    * pictures + sequence_end), decodable by [[decodeIntra]] or any
    * MPEG-1 decoder.
    */
  def grayStream(width: Int, height: Int, grays: Seq[Int]): Array[Byte] = {
    val aus = Mpeg1Writer.grayPictures(width, height, grays)
    val end = Array[Byte](0, 0, 1, 0xb7.toByte)
    (aus.flatten ++ end).toArray
  }

  /** Decode the first I-picture of an MPEG-1 video elementary stream
    * (sequence header required in-band). None when there is no sequence
    * header, no I-picture, or nothing decodes.
    */
  def decodeIntra(bytes: Array[Byte]): Option[Mpeg1.Frame] =
    Mpeg1.decodeAccessUnit(None, bytes)._2

  /** One D-picture access unit at uniform luma `gray`: the DC-only
    * fast-preview picture class — each macroblock is the one-entry B.2d
    * type bit, six predictive DC blocks with NO AC scan and NO EOB, and
    * an end_of_macroblock bit.
    */
  private def dPicture(w: Mpeg1Writer.BitWriter, width: Int, height: Int,
      gray: Int): Unit = {
    require(gray >= 0 && gray <= 255, s"gray out of range: $gray")
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x00, 8) // picture start code
    w.bits(0, 10).bits(4, 3).bits(0xffff, 16).put(0) // D, vbv_delay
    w.align()
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x01, 8) // slice 1
    w.bits(8, 5).put(0) // quantizer_scale (unused: DC only), extra_bit
    val nMb = ((width + 15) / 16) * ((height + 15) / 16)
    for (mb <- 0 until nMb) {
      w.b("1").b("1") // address_increment 1, B.2d macroblock_type
      for (blk <- 0 until 6) {
        val luma = blk < 4
        val diff = if (mb == 0 && blk == 0) gray - 128 else 0
        Mpeg1Writer.putDc(w, diff, luma) // no EOB: D blocks are the DC alone
      }
      w.b("1") // end_of_macroblock
    }
    w.align()
  }

  /** Per-access-unit D-picture bytes for muxing, AU 0 carrying the
    * sequence header — the D-only sequence shape the spec confines
    * D-pictures to.
    */
  def dPictures(width: Int, height: Int,
      grays: Seq[Int]): Seq[Array[Byte]] = {
    require(grays.nonEmpty, "at least one picture")
    grays.zipWithIndex.map { case (g, i) =>
      val w = new Mpeg1Writer.BitWriter
      if (i == 0) Mpeg1Writer.seqHeader(w, width, height)
      dPicture(w, width, height, g)
      w.bytes
    }
  }


  /** The full IFD chain of a TIFF: a COG's overview pyramid, level 0 first. */
  def readMetaAll(path: String): Seq[TiffReader.TiffMeta] =
    TiffReader.ifdChain(path, Int.MaxValue)

  /** EPSG:3857 → EPSG:4326 inverse of `Geo.lonToMercatorX` and
    * `Geo.latToMercatorY`: lat = 2·atan(exp(y/R)) − π/2.
    */
  def mercatorXToLon(x: Column): Column = degrees(x / 6378137.0)
  def mercatorYToLat(y: Column): Column =
    degrees(atan(exp(y / 6378137.0)) * 2 - lit(math.Pi / 2))

  /** UTM forward: (lon°, lat°) → (easting, northing) for the given zone,
    * as `Geo.tmForward` with UTM's parameters (scale 0.9996, 500 km false
    * easting); `south = true` for EPSG:327xx adds the 10,000 km false
    * northing. `Crs` builds the same parameters for an EPSG:326xx/327xx
    * code.
    */
  def utmForward(lon: Double, lat: Double, zone: Int,
      south: Boolean = false): (Double, Double) =
    Geo.tmForward(lon, lat, Geo.utmCentralMeridian(zone), 0.9996, 500000.0,
      if (south) 10000000.0 else 0.0)

  /** Inverse of [[utmForward]]: (easting, northing, zone) → (lon°, lat°). */
  def utmInverse(easting: Double, northing: Double, zone: Int,
      south: Boolean = false): (Double, Double) =
    Geo.tmInverse(easting, northing, Geo.utmCentralMeridian(zone), 0.9996,
      500000.0, if (south) 10000000.0 else 0.0)

  /** Reconstruction from int8 codes (`Similarity.int8Codes`): qᵢ·scale. */
  def int8Dequantize(codes: Column, scale: Column): Column =
    transform(codes, q => q.cast("double") * scale)

  /** Each document's prefix shingles (`Dedup.shingleSetsWithPrefix`), one
    * row per (doc, prefix shingle): the candidate keys of a prefix index.
    */
  def jaccardPrefix(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    Dedup.shingleSetsWithPrefix(sh, idCol, threshold)
      .select(col(idCol), explode(col("_prefix")).as("shingle"))

  // ---- Repetition's metrics as higher-order-function folds over the
  // sorted gram array: the semantic reference `Repetition.stats` and the
  // relational forms are pinned against ----

  /** struct(cnt, gram) of the most frequent n-gram (ties → smallest gram);
    * struct(0, "") when the doc has no n-grams. The sorted array makes equal
    * grams adjacent, so one left-to-right fold finds the longest run; runs
    * arrive gram-ascending, so keeping only strictly-longer runs implements
    * the (count desc, gram asc) tie-break.
    */
  def topNgram(text: Column, n: Int): Column = {
    val sorted = array_sort(Repetition.wordNgrams(TextAnalysis.tokens(text), n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("bestGram"))
    val folded = aggregate(sorted, init, (st, g) => {
      val run = when(g === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      val better = run > st.getField("best")
      struct(g.as("prev"), run.as("run"),
        when(better, run).otherwise(st.getField("best")).as("best"),
        when(better, g).otherwise(st.getField("bestGram")).as("bestGram"))
    })
    struct(folded.getField("best").as("cnt"),
      folded.getField("bestGram").as("gram"))
  }

  /** Characters covered by repeated n-grams: `Σ_{run length r ≥ 2} r·len` in
    * one fold over the sorted gram array. When a run reaches 2 the first
    * occurrence is retro-charged (`+2·len`); each further repeat adds `len`.
    */
  def dupNgramCharCount(text: Column, n: Int): Column = {
    val sorted = array_sort(Repetition.wordNgrams(TextAnalysis.tokens(text), n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc"))
    val folded = aggregate(sorted, init, (st, g) => {
      val run = when(g === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      val add = when(run === 2L, length(g).cast("long") * 2L)
        .otherwise(when(run > 2L, length(g).cast("long")).otherwise(lit(0L)))
      struct(g.as("prev"), run.as("run"), (st.getField("acc") + add).as("acc"))
    })
    folded.getField("acc")
  }

  /** top-n-gram char fraction at scan speed (`Repetition`'s metric definitions). */
  def topNgramCharFraction(text: Column, n: Int): Column = {
    val top = topNgram(text, n)
    when(length(text) === 0, 0.0).otherwise(
      top.getField("cnt") * length(top.getField("gram")) /
        length(text).cast("double"))
  }

  /** duplicate-n-gram char fraction at scan speed (`Repetition`'s metric definitions). */
  def dupNgramCharFraction(text: Column, n: Int): Column =
    when(length(text) === 0, 0.0)
      .otherwise(dupNgramCharCount(text, n) / length(text).cast("double"))
}
