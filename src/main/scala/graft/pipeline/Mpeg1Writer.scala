package graft.pipeline

/** Minimal MPEG-1 video encoder (ISO/IEC 11172-2) — the write-side twin
  * of [[Mpeg1]], producing VALID elementary streams any conformant
  * decoder accepts: sequence header, I-pictures of uniform gray (DC-only
  * blocks, chroma at 128), P-pictures lifting the reference by an exact
  * per-pel delta (zero-MV coded-pattern macroblocks, escape-coded
  * residual levels), B-pictures interpolating their two references
  * (zero-MV, no coefficients), slice-per-picture. Deliberately minimal —
  * the point is a deterministic, spec-true round-trip partner covering
  * all three decodable picture classes for the video feature pipeline
  * (encode → mux → demux → decode, hash-checked by the driver gate), the
  * same role the zarr/TIFF/WARC writers play for their readers.
  */
object Mpeg1Writer {

  private[graft] final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nb = 0
    def put(bit: Int): this.type = {
      cur = (cur << 1) | bit; nb += 1
      if (nb == 8) { buf += cur.toByte; cur = 0; nb = 0 }
      this
    }
    def b(s: String): this.type = { s.foreach(c => put(c - '0')); this }
    def bits(v: Int, n: Int): this.type = {
      var i = n - 1
      while (i >= 0) { put((v >> i) & 1); i -= 1 }
      this
    }
    def align(): this.type = { while (nb != 0) put(0); this }
    def bytes: Array[Byte] = { align(); buf.toArray }
  }

  // dct_dc_size VLCs, encoder direction (tables B.5a/B.5b)
  private val DcSizeLuma = Array(
    "100", "00", "01", "101", "110", "1110", "11110", "111110", "1111110")
  private val DcSizeChroma = Array(
    "00", "01", "10", "110", "1110", "11110", "111110", "1111110", "11111110")

  private[graft] def putDc(w: BitWriter, diff: Int, luma: Boolean): Unit = {
    val size = 32 - Integer.numberOfLeadingZeros(math.abs(diff)) // 0 for 0
    w.b(if (luma) DcSizeLuma(size) else DcSizeChroma(size))
    if (size > 0)
      w.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
  }

  /** One DC-only intra picture at uniform luma `gray` (0..255), as its
    * own access unit (picture header + one slice, byte-aligned).
    */
  private def picture(w: BitWriter, width: Int, height: Int,
      gray: Int): Unit = {
    require(gray >= 0 && gray <= 255, s"gray out of range: $gray")
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x00, 8) // picture start code
    w.bits(0, 10).bits(1, 3).bits(0xffff, 16).put(0) // I, vbv_delay
    w.align()
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x01, 8) // slice 1
    w.bits(8, 5).put(0) // quantizer_scale 8, extra_bit 0
    val nMb = ((width + 15) / 16) * ((height + 15) / 16)
    for (mb <- 0 until nMb) {
      w.b("1").b("1") // address_increment 1, macroblock_type intra
      for (blk <- 0 until 6) {
        val luma = blk < 4
        // predictor chain: only the very first luma block of the picture
        // carries the gray offset (DC = 8*gray); everything after
        // predicts exactly
        val diff = if (mb == 0 && blk == 0) gray - 128 else 0
        putDc(w, diff, luma)
        w.b("10") // EOB — DC-only block
      }
    }
    w.align()
  }

  private[graft] def seqHeader(w: BitWriter, width: Int, height: Int): Unit = {
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0xb3, 8)
    w.bits(width, 12).bits(height, 12)
      .bits(1, 4).bits(1, 4) // aspect, picture_rate
      .bits(0x3ffff, 18).put(1) // bit_rate (variable), marker
      .bits(0, 10).put(0) // vbv, constrained
      .put(0).put(0) // default quantizer matrices
    w.align()
  }

  /** Per-access-unit bytes for muxing: AU 0 carries the sequence header
    * (the demuxer contract [[Mpeg1.decodeAccessUnit]] relies on), every
    * AU one I-picture per entry of `grays`.
    */
  def grayPictures(width: Int, height: Int,
      grays: Seq[Int]): Seq[Array[Byte]] = {
    require(grays.nonEmpty, "at least one picture")
    grays.zipWithIndex.map { case (g, i) =>
      val w = new BitWriter
      if (i == 0) seqHeader(w, width, height)
      picture(w, width, height, g)
      w.bytes
    }
  }

  /** One P-picture access unit lifting every LUMA pel of the reference by
    * exactly `delta` (chroma untouched): zero-motion coded-pattern
    * macroblocks (type "01"), cbp 60 (the four luma blocks), each block a
    * single DC residual at quantizer_scale 1 — the non-intra dequant of
    * level 4·delta is (2·4δ+1)·1·16/16 = 8δ+1, already odd so
    * oddification keeps it, and its flat IDCT adds δ+1/8 per pel, which
    * rounds to exactly +δ on integer pixels. `delta` is kept in 11..31:
    * level 4δ = 44..124 sits ABOVE B.14's largest run-0 codeword (40), so
    * the escape form (6-bit run + 8-bit level) is the encoding the spec
    * itself prescribes there, and below the 16-bit extension threshold.
    */
  private def pPicture(w: BitWriter, width: Int, height: Int,
      delta: Int): Unit = {
    require(delta >= 11 && delta <= 31, s"delta outside 11..31: $delta")
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x00, 8) // picture start code
    w.bits(0, 10).bits(2, 3).bits(0xffff, 16) // P, vbv_delay
    w.put(0).bits(1, 3) // full_pel_forward 0, forward_f_code 1
    w.put(0) // extra_bit_picture
    w.align()
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x01, 8) // slice 1
    w.bits(1, 5).put(0) // quantizer_scale 1, extra_bit 0
    val nMb = ((width + 15) / 16) * ((height + 15) / 16)
    for (_ <- 0 until nMb) {
      w.b("1").b("01") // address_increment 1, type: coded_pattern only
      w.b("111") // cbp 60: Y0..Y3 carry coefficients, chroma none
      for (_ <- 0 until 4) {
        w.b("000001").bits(0, 6).bits(4 * delta, 8) // escape: run 0
        w.b("10") // EOB
      }
    }
    w.align()
  }

  /** One B-picture access unit: every macroblock interpolated with zero
    * motion and no coefficients (type "10", four motion codes 0), so a
    * correct decoder reconstructs exactly (past + future + 1) >> 1 per
    * pel — the rounded bidirectional average of its two references.
    */
  private def bPicture(w: BitWriter, width: Int, height: Int): Unit = {
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x00, 8) // picture start code
    w.bits(0, 10).bits(3, 3).bits(0xffff, 16) // B, vbv_delay
    w.put(0).bits(1, 3).put(0).bits(1, 3) // fwd + bwd: half-pel, f_code 1
    w.put(0) // extra_bit_picture
    w.align()
    w.bits(0, 8).bits(0, 8).bits(1, 8).bits(0x01, 8) // slice 1
    w.bits(8, 5).put(0) // quantizer_scale (unused: no coefficients)
    val nMb = ((width + 15) / 16) * ((height + 15) / 16)
    for (_ <- 0 until nMb) {
      w.b("1").b("10") // address_increment 1, type: interpolated not coded
      w.b("1").b("1").b("1").b("1") // four motion codes 0
    }
    w.align()
  }

  /** STREAM-order I → P → B access units exercising all three picture
    * classes: the I at uniform `gray`, the P lifting it to gray+delta,
    * and a trailing B that interpolates the two — uniform luma
    * (2·gray + delta + 1) >> 1, computable in closed form by the caller.
    * AU 0 carries the sequence header, like [[grayPictures]].
    */
  def ipbPictures(width: Int, height: Int, gray: Int,
      delta: Int): Seq[Array[Byte]] = {
    val i = {
      val w = new BitWriter
      seqHeader(w, width, height)
      picture(w, width, height, gray)
      w.bytes
    }
    val p = {
      val w = new BitWriter; pPicture(w, width, height, delta); w.bytes
    }
    val b = {
      val w = new BitWriter; bPicture(w, width, height); w.bytes
    }
    Seq(i, p, b)
  }
}
