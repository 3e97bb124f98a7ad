package graft

import graft.pipeline.{Mpeg1, Mpeg1Ps, Mpeg2, Multimodal}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** MPEG-2 (13818-2) decoder against HAND-ASSEMBLED bitstreams, pixel
  * oracles computed from the closed-form IDCT cosine arithmetic
  * independent of the decoder — the Mpeg1Spec discipline. The fixtures
  * cross every 13818-2-specific mechanism in scope: sequence/picture
  * extensions, intra DC precision, the non-linear quantiser scale, the
  * alternate scan, MISMATCH CONTROL (whose ±1 toggle on F[7][7] is made
  * pixel-visible by placing a second coefficient near a rounding
  * boundary — the fixture asserts the with/without-toggle oracles
  * actually differ, so the test is guaranteed to discriminate), the
  * 12-bit signed escape, P/B frame prediction with PER-COMPONENT
  * f_codes, the /32 non-intra dequant, and the declared boundaries
  * (field prediction, unused f_codes).
  */
class Mpeg2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  // ---- bit-level stream assembler (Mpeg1Spec's, duplicated: both are
  // private test helpers) ----
  private final class BitWriter {
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

  private def startCode(xx: Int)(w: BitWriter): Unit = {
    w.align(); w.bits(0, 8).bits(0, 8).bits(1, 8).bits(xx, 8)
  }

  /** 11172-2-layout sequence header (identical fields in 13818-2) with a
    * FLAT custom intra matrix: W[0][0]=8 (spec-required), all else 16 —
    * makes every dequant product a round number.
    */
  private def seqHeader(w: BitWriter, width: Int, height: Int): Unit = {
    startCode(0xb3)(w)
    w.bits(width, 12).bits(height, 12)
      .bits(1, 4).bits(1, 4)
      .bits(0x3ffff, 18).put(1)
      .bits(0, 10).put(0)
    w.put(1) // load_intra_quantizer_matrix (arrives in zigzag order;
    w.bits(8, 8) // zigzag 0 = raster 0 = the fixed DC weight 8
    for (_ <- 1 until 64) w.bits(16, 8)
    w.put(0) // load_non_intra_quantizer_matrix
  }

  /** 13818-2 sequence_extension: progressive, no dim extensions. */
  private def seqExtension(w: BitWriter, chroma: Int = 1): Unit = {
    startCode(0xb5)(w)
    w.bits(1, 4) // identifier: Sequence Extension
      .bits(0x48, 8) // profile_and_level: Main@Main
      .put(1) // progressive_sequence
      .bits(chroma, 2) // chroma_format: 1 = 4:2:0, 2 = 4:2:2
      .bits(0, 2).bits(0, 2) // horizontal/vertical size extensions
      .bits(0, 12).put(1) // bit_rate_extension + marker
      .bits(0, 8).put(0) // vbv_buffer_size_extension + low_delay
      .bits(0, 2).bits(0, 5) // frame_rate extensions
  }

  private def pictureHeader(w: BitWriter, ptype: Int): Unit = {
    startCode(0x00)(w)
    w.bits(0, 10).bits(ptype, 3).bits(0xffff, 16)
    if (ptype == 2 || ptype == 3) { w.put(0); w.bits(1, 3) }
    if (ptype == 3) { w.put(0); w.bits(1, 3) }
    w.put(0)
    w.align()
  }

  /** 13818-2 picture_coding_extension: frame picture, intra_vlc_format
    * 0, no concealment. `fc` = f_code[s][t] in (fwd-h, fwd-v, bwd-h,
    * bwd-v) order; 15 = unused.
    */
  private def picExtension(w: BitWriter, dcPrec: Int = 0,
      qScaleType: Int = 0, altScan: Int = 0,
      fc: Seq[Int] = Seq(15, 15, 15, 15), fpfd: Int = 1,
      conceal: Int = 0): Unit = {
    startCode(0xb5)(w)
    w.bits(8, 4) // identifier: Picture Coding Extension
    fc.foreach(f => w.bits(f, 4))
    w.bits(dcPrec, 2)
      .bits(3, 2) // picture_structure: frame
      .put(0) // top_field_first
      .bits(fpfd, 1) // frame_pred_frame_dct
      .bits(conceal, 1) // concealment_motion_vectors
      .bits(qScaleType, 1)
      .put(0) // intra_vlc_format (B.14)
      .bits(altScan, 1)
      .put(0).put(1).put(1).put(0) // repeat_first/chroma420/progressive/composite
  }

  /** DC size code + differential bits (the shared 8-bit-precision form
    * used by every fixture: diffs stay small).
    */
  private def dcLuma(w: BitWriter, diff: Int): Unit = {
    if (diff == 0) { w.b("100"); return }
    val size = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    val code = Seq("", "00", "01", "101", "110", "1110", "11110",
      "111110", "1111110")(size)
    w.b(code)
    w.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
  }
  private def dcChroma0(w: BitWriter): Unit = w.b("00") // diff 0
  private def dcChroma(w: BitWriter, diff: Int): Unit = {
    if (diff == 0) { w.b("00"); return }
    val size = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    val code = Seq("", "01", "10", "110", "1110", "11110", "111110",
      "1111110", "11111110")(size)
    w.b(code)
    w.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
  }

  /** One 16×16 I-macroblock: inc 1, intra, Y0 optionally carrying ONE
    * B.14-coded AC coefficient at scan index 1 (run 0), Y1–Y3 and chroma
    * DC-only.
    */
  private def intraMb(w: BitWriter, y0Diff: Int, acLevel: Int): Unit = {
    w.b("1").b("1") // macroblock_address_increment 1, macroblock_type intra
    dcLuma(w, y0Diff)
    if (acLevel == 2) w.b("0100").put(0) // B.14 (0,2), positive sign
    else if (acLevel != 0) fail(s"fixture supports acLevel 0/2, got $acLevel")
    w.b("10") // EOB
    for (_ <- 0 until 3) { dcLuma(w, 0); w.b("10") }
    for (_ <- 0 until 2) { dcChroma0(w); w.b("10") }
  }

  /** A full MPEG-2 intra access unit: 16×16, one macroblock. */
  private def m2Au(dcPrec: Int = 0, qScaleType: Int = 0, altScan: Int = 0,
      qCode: Int = 1, acLevel: Int = 2): Array[Byte] = {
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w)
    pictureHeader(w, 1)
    picExtension(w, dcPrec, qScaleType, altScan)
    startCode(0x01)(w)
    w.bits(qCode, 5).put(0) // quantiser_scale_code, no slice extras
    intraMb(w, y0Diff = 0, acLevel = acLevel)
    w.bytes
  }

  // ---- independent closed-form IDCT oracle ----
  private def cc(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2) else 1.0
  private def idctPix(coeffs: Map[(Int, Int), Int], x: Int, y: Int): Int = {
    var s = 0.0
    for (((v, u), f) <- coeffs)
      s += cc(u) * cc(v) * f *
        math.cos((2 * x + 1) * u * math.Pi / 16.0) *
        math.cos((2 * y + 1) * v * math.Pi / 16.0)
    math.max(0, math.min(255, math.round(s / 4.0).toInt))
  }
  private def block(coeffs: Map[(Int, Int), Int]): Seq[Int] =
    for (y <- 0 until 8; x <- 0 until 8) yield idctPix(coeffs, x, y)

  private def y0Of(f: Mpeg1.Frame): Seq[Int] =
    for (y <- 0 until 8; x <- 0 until 8) yield f.y(y * 16 + x)

  test("sequence_extension routes the stream to the MPEG-2 decoder") {
    val au = m2Au()
    val (ctx, frame) = Mpeg1.decodeAccessUnitRef(None, au)
    assert(ctx.exists(_.seq.m2.exists(e =>
      e.chromaFormat == 1 && e.progressive)))
    assert(frame.isDefined)
    // plain MPEG-1 headers must NOT acquire an m2 context
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None,
      graft.pipeline.Mpeg1Writer.grayPictures(16, 16, Seq(100)).head)
    assert(c1.exists(_.seq.m2.isEmpty))
  }

  test("intra decode: /32 dequant, B.14 AC, MISMATCH CONTROL pixel-exact") {
    // qs = 2 (linear code 1), flat W=16: the (0,2) codeword dequants to
    // F[0][1] = 2·2·2·16/32 = 4; DC = 128·8 = 1024. Sum 1028 is EVEN, so
    // mismatch control sets F[7][7] = +1. The oracle INCLUDES the toggle;
    // the no-toggle twin must differ (the fixture discriminates).
    val (_, frame) = Mpeg1.decodeAccessUnitRef(None, m2Au())
    val f = frame.get
    assert(f.width == 16 && f.height == 16)
    val withToggle =
      block(Map((0, 0) -> 1024, (0, 1) -> 4, (7, 7) -> 1))
    val noToggle = block(Map((0, 0) -> 1024, (0, 1) -> 4))
    assert(withToggle != noToggle,
      "fixture must make the mismatch toggle pixel-visible")
    assert(y0Of(f) == withToggle)
    // DC-only blocks: sum 1024 even -> toggle fires but stays invisible
    // at this magnitude: flat 128
    assert((for (y <- 0 until 8; x <- 8 until 16) yield f.y(y * 16 + x))
      .forall(_ == 128))
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
  }

  test("intra_dc_precision: the DC multiplier and predictor reset scale") {
    // precision 10 (code 2): mult 2, predictor reset 512 -> F[0][0] =
    // 512·2 = 1024, same flat 128 DC — but the AC dequant is unchanged,
    // so Y0 must decode exactly like the precision-8 fixture
    val (_, f8) = Mpeg1.decodeAccessUnitRef(None, m2Au(dcPrec = 0))
    val (_, f10) = Mpeg1.decodeAccessUnitRef(None, m2Au(dcPrec = 2))
    assert(y0Of(f8.get) == y0Of(f10.get))
  }

  test("q_scale_type = 1 selects the non-linear Table 7-6 mapping") {
    // code 9: linear qs = 18, NON-linear qs = 10 -> F[0][1] = 2·2·qs·16/32
    // = 2·qs: 20 (non-linear) vs 36 (linear)
    val (_, fNl) = Mpeg1.decodeAccessUnitRef(None,
      m2Au(qScaleType = 1, qCode = 9))
    assert(y0Of(fNl.get) ==
      block(Map((0, 0) -> 1024, (0, 1) -> 20, (7, 7) -> 1)))
    val (_, fLin) = Mpeg1.decodeAccessUnitRef(None,
      m2Au(qScaleType = 0, qCode = 9))
    assert(y0Of(fLin.get) ==
      block(Map((0, 0) -> 1024, (0, 1) -> 36, (7, 7) -> 1)))
  }

  test("alternate_scan moves scan index 1 from raster (0,1) to (1,0)") {
    val (_, fAlt) = Mpeg1.decodeAccessUnitRef(None, m2Au(altScan = 1))
    // same coded bits, alternate scan: the coefficient lands on the
    // VERTICAL basis function (v=1, u=0)
    assert(y0Of(fAlt.get) ==
      block(Map((0, 0) -> 1024, (1, 0) -> 4, (7, 7) -> 1)))
    assert(y0Of(fAlt.get) !=
      block(Map((0, 0) -> 1024, (0, 1) -> 4, (7, 7) -> 1)))
  }

  test("MPEG-2 P with unused (1111) forward f_codes: chain drops, no wrong pixels") {
    val i = m2Au()
    val p = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w) // f_codes all 15 = 'unused' — invalid for a P
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1")
      w.bytes
    }
    val (c1, f1) = Mpeg1.decodeAccessUnitRef(None, i)
    assert(f1.isDefined && c1.exists(_.ref.isDefined))
    val (c2, f2) = Mpeg1.decodeAccessUnitRef(c1, p)
    assert(f2.isEmpty, "a P without valid forward f_codes must not decode")
    assert(c2.exists(c => c.ref.isEmpty && c.prevRef.isEmpty),
      "the reference chain must drop honestly")
  }

  test("MPEG-2 intra inside a program stream: end-to-end real pixels") {
    import org.apache.spark.sql.Encoders
    val mpg = Mpeg1Ps.mux(Seq(m2Au()))
    val blobs = spark.createDataset(Seq(Multimodal.Blob(31L, mpg)))(
      Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
    assert(out.length == 1 && out(0).ok)
    assert(out(0).width == 16 && out(0).height == 16)
    // mean luma: 3 flat-128 luma blocks + Y0 (flat 128 + zero-mean AC
    // cosines, up to rounding): within half a gray level of 128
    assert(math.abs(out(0).mean_luma - 128.0) < 0.5, out(0).mean_luma)
  }

  /** FLAT 32×16 two-tone MPEG-2 I access unit: left macroblock luma 80,
    * right 160, chroma 128 (DC-only blocks; every per-block mismatch
    * toggle stays sub-rounding).
    */
  private def m2TwoToneAu: Array[Byte] = {
    val w = new BitWriter
    seqHeader(w, 32, 16)
    seqExtension(w)
    pictureHeader(w, 1)
    picExtension(w)
    startCode(0x01)(w)
    w.bits(1, 5).put(0)
    intraMb(w, y0Diff = -48, acLevel = 0) // 128 -> 80
    intraMb(w, y0Diff = 80, acLevel = 0) // 80 -> 160
    w.bytes
  }

  test("MPEG-2 P: zero-MV escape residual, /32 non-intra dequant") {
    val iAu = m2Au(acLevel = 0) // flat 128
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15))
      startCode(0x01)(w)
      w.bits(1, 5).put(0) // qs = 2
      w.b("1").b("1") // inc 1, type = MC + coded
      w.b("1").b("1") // zero motion codes (f_code 1: no residuals)
      w.b("1010") // cbp = 32: Y0 only
      // dct_coeff_first via ESCAPE: run 0, level +30 ->
      // F[0][0] = (2·30 + 1)·2·16/32 = 61 (sum odd: no toggle);
      // DC-only residual = 61/8 = 7.625 per pel
      w.b("000001").bits(0, 6).bits(30, 12)
      w.b("10") // EOB
      w.bytes
    }
    val (c1, fI) = Mpeg1.decodeAccessUnitRef(None, iAu)
    assert(fI.exists(_.y.forall(_ == 128)))
    val (c2, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    assert(fP.isDefined, "MPEG-2 P must decode")
    // the residual covers Y0 only (cbp = 32): its 8x8 lands at 136 =
    // round(128 + 7.625); Y1-Y3 stay the reference copy 128
    val py = fP.get.y
    for (r <- 0 until 16; c <- 0 until 16) {
      val want = if (r < 8 && c < 8) 136 else 128
      assert(py(r * 16 + c) == want, s"P ($r,$c): ${py(r * 16 + c)}")
    }
    assert(fP.get.cb.forall(_ == 128) && fP.get.cr.forall(_ == 128))
    // P slides into the reference chain like MPEG-1; its mean is
    // (64·136 + 192·128)/256 = 130
    assert(c2.exists(c => c.ref.exists(_.meanLuma == 130.0) &&
      c.prevRef.exists(_.meanLuma == 128.0)))
  }

  test("MPEG-2 B: rounded bidirectional average; never a reference") {
    val iAu = m2Au(acLevel = 0)
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15))
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1").b("1").b("1").b("1010")
      w.b("000001").bits(0, 6).bits(30, 12).b("10")
      w.bytes
    }
    val bAu = {
      val w = new BitWriter
      pictureHeader(w, 3)
      picExtension(w, fc = Seq(1, 1, 1, 1))
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("10") // inc 1, type = fwd + bwd, no cbp
      w.b("1").b("1") // forward zero MV
      w.b("1").b("1") // backward zero MV
      w.bytes
    }
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, iAu)
    val (c2, _) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    val (c3, fB) = Mpeg1.decodeAccessUnitRef(c2, bAu)
    // rounded bidirectional average per pel: Y0 region (past 128,
    // future 136) -> (128 + 136 + 1) >> 1 = 132; elsewhere both 128
    val by = fB.get.y
    for (r <- 0 until 16; c <- 0 until 16) {
      val want = if (r < 8 && c < 8) 132 else 128
      assert(by(r * 16 + c) == want, s"B ($r,$c): ${by(r * 16 + c)}")
    }
    // B never enters the reference slots
    assert(c3.exists(c => c.ref.exists(_.meanLuma == 130.0) &&
      c.prevRef.exists(_.meanLuma == 128.0)))
  }

  test("MPEG-2 P: per-component f_codes, half-pel units, predictor persistence") {
    // forward f_codes (2, 1): horizontal residuals exist, vertical none.
    // MB0 codes MV x = +1 (code) with residual 1 -> delta (1-1)·2+1+1 = 2
    // half-pel = +1 pel; MB1 codes motion 0, so the PREDICTOR persists
    // and both macroblocks shift the reference LEFT by one pel.
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(2, 1, 15, 15))
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("001") // MB0: inc 1, type = MC only
      w.b("010").bits(1, 1) // x: code +1, residual 1
      w.b("1") // y: code 0
      w.b("1").b("001") // MB1: inc 1, type = MC only
      w.b("1") // x: code 0 -> predictor persists (+2)
      w.b("1") // y: code 0
      w.bytes
    }
    val (c1, fI) = Mpeg1.decodeAccessUnitRef(None, m2TwoToneAu)
    assert(fI.exists(f => f.y(0) == 80 && f.y(16) == 160))
    val (_, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    val f = fP.get
    for (r <- 0 until 16) {
      assert(f.y(r * 32 + 14) == 80, s"row $r col 14") // ref col 15
      assert(f.y(r * 32 + 15) == 160, s"row $r col 15") // ref col 16
      assert(f.y(r * 32 + 30) == 160, s"row $r col 30")
      assert(f.y(r * 32 + 31) == 160, s"row $r col 31 (edge clamp)")
    }
  }

  test("field prediction (fpfd = 0) P-pictures are out of scope") {
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15), fpfd = 0)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1").b("1").b("1").b("1010").b("1").put(0).b("10")
      w.bytes
    }
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, m2Au(acLevel = 0))
    val (c2, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    assert(fP.isEmpty, "field-prediction P must not decode")
    assert(c2.exists(c => c.ref.isEmpty && c.prevRef.isEmpty))
  }

  /** One intra macroblock under fpfd = 0: type, dct_type bit, then the
    * four luma DC diffs and two chroma-0 blocks (all DC-only).
    */
  private def intraMbField(w: BitWriter, dct: Int, diffs: Seq[Int]): Unit = {
    w.b("1").b("1") // inc 1, type intra (no quant)
    w.put(dct) // dct_type — macroblock_modes() order, BEFORE any qs
    diffs.foreach { d => dcLuma(w, d); w.b("10") }
    for (_ <- 0 until 2) { dcChroma0(w); w.b("10") }
  }

  test("field DCT intra: luma blocks carry the two FIELDS — lines interleave") {
    // dct_type = 1: blocks 0/1 are the TOP field (even lines), 2/3 the
    // BOTTOM field (odd lines). DC chain 128 →(−48) 80 → 80 →(+80) 160 →
    // 160: even lines flat 80, odd lines flat 160 — a frame-DCT decoder
    // would instead show an 80-over-160 half split, so the oracle
    // discriminates the organisations.
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w)
    pictureHeader(w, 1)
    picExtension(w, fpfd = 0)
    startCode(0x01)(w)
    w.bits(1, 5).put(0)
    intraMbField(w, dct = 1, diffs = Seq(-48, 0, 80, 0))
    val (_, frame) = Mpeg1.decodeAccessUnitRef(None, w.bytes)
    val f = frame.get
    for (line <- 0 until 16; c <- 0 until 16) {
      val want = if (line % 2 == 0) 80 else 160
      assert(f.y(line * 16 + c) == want, s"line $line col $c")
    }
    // the SAME DC stream under dct_type = 0 is the frame organisation:
    // top half 80, bottom half 160
    val w2 = new BitWriter
    seqHeader(w2, 16, 16)
    seqExtension(w2)
    pictureHeader(w2, 1)
    picExtension(w2, fpfd = 0)
    startCode(0x01)(w2)
    w2.bits(1, 5).put(0)
    intraMbField(w2, dct = 0, diffs = Seq(-48, 0, 80, 0))
    val (_, frame2) = Mpeg1.decodeAccessUnitRef(None, w2.bytes)
    val f2 = frame2.get
    for (line <- 0 until 16; c <- 0 until 16) {
      val want = if (line < 8) 80 else 160
      assert(f2.y(line * 16 + c) == want, s"frame-DCT line $line col $c")
    }
  }

  test("macroblock_modes() order: dct_type PRECEDES quantiser_scale_code") {
    // intra + quant MB under fpfd = 0: '01' type, dct_type 1, THEN the
    // 5-bit qs code 4 (qs = 8, overriding the slice's qs = 2). The AC
    // (0,2) dequants against the NEW qs: F = 2·2·8·16/32 = 16, placed by
    // the ALTERNATE field layout on even lines. A decoder reading qs
    // before dct_type misparses the stream entirely.
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w)
    pictureHeader(w, 1)
    picExtension(w, fpfd = 0)
    startCode(0x01)(w)
    w.bits(1, 5).put(0) // slice qs = 2
    w.b("1").b("01") // inc 1, type intra + quant
    w.put(1) // dct_type = 1 (field)
    w.bits(4, 5) // quantiser_scale_code 4 -> qs 8
    dcLuma(w, 0)
    w.b("0100").put(0) // B.14 (0,2) positive
    w.b("10")
    for (_ <- 0 until 3) { dcLuma(w, 0); w.b("10") }
    for (_ <- 0 until 2) { dcChroma0(w); w.b("10") }
    val (_, frame) = Mpeg1.decodeAccessUnitRef(None, w.bytes)
    val f = frame.get
    // sum 1024 + 16 = 1040 even -> mismatch toggle included in the oracle
    val oracle = block(Map((0, 0) -> 1024, (0, 1) -> 16, (7, 7) -> 1))
    for (r <- 0 until 8; c <- 0 until 8)
      assert(f.y(2 * r * 16 + c) == oracle(r * 8 + c),
        s"top-field block row $r col $c")
    // the other three luma blocks are DC-only 128: odd lines and the
    // right half stay flat
    for (r <- 0 until 8; c <- 0 until 16)
      assert(f.y((2 * r + 1) * 16 + c) == 128, s"bottom line ${2 * r + 1}")
  }

  test("P with fpfd = 0: frame_motion_type '10' decodes, field-DCT residual") {
    val iAu = m2Au(acLevel = 0) // flat 128 reference
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15), fpfd = 0)
      startCode(0x01)(w)
      w.bits(1, 5).put(0) // qs = 2
      w.b("1").b("1") // inc 1, type = MC + coded
      w.b("10") // frame_motion_type: frame-based
      w.put(1) // dct_type = 1 (field)
      w.b("1").b("1") // zero motion codes
      w.b("1010") // cbp = 32: Y0 only
      w.b("000001").bits(0, 6).bits(30, 12) // escape run 0, +30
      w.b("10") // EOB
      w.bytes
    }
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, iAu)
    val (_, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    assert(fP.isDefined, "fpfd=0 frame-based P must decode")
    // residual F[0][0] = 61 -> +7.625/pel rounds to 136, landing on the
    // TOP-FIELD lines of the left half; everything else stays 128
    val py = fP.get.y
    for (line <- 0 until 16; c <- 0 until 16) {
      val want = if (line % 2 == 0 && c < 8) 136 else 128
      assert(py(line * 16 + c) == want, s"P field ($line,$c): ${py(line * 16 + c)}")
    }
  }

  test("field-based and dual-prime prediction drop the WHOLE picture") {
    for (fmt <- Seq("01", "11")) {
      val pAu = {
        val w = new BitWriter
        pictureHeader(w, 2)
        picExtension(w, fc = Seq(1, 1, 15, 15), fpfd = 0)
        startCode(0x01)(w)
        w.bits(1, 5).put(0)
        w.b("1").b("1") // inc 1, type = MC + coded
        w.b(fmt) // field-based / dual-prime frame_motion_type
        w.bytes
      }
      val (c1, _) = Mpeg1.decodeAccessUnitRef(None, m2Au(acLevel = 0))
      val (c2, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
      assert(fP.isEmpty, s"frame_motion_type $fmt must not decode")
      assert(c2.exists(c => c.ref.isEmpty && c.prevRef.isEmpty),
        "the reference chain must drop honestly")
    }
  }

  test("I-picture concealment motion vectors parse through; P with conceal drops") {
    // two-tone 32×16 I with conceal = 1: each intra MB carries a frame
    // MV (nonzero codes + residual, f_codes (2,1)) and a marker bit. If
    // the parse skipped or mis-sized them, MB1's DC would misread — so
    // pixel equality with the no-conceal twin proves bit sync.
    def au(conceal: Int): Array[Byte] = {
      val w = new BitWriter
      seqHeader(w, 32, 16)
      seqExtension(w)
      pictureHeader(w, 1)
      picExtension(w, fc = Seq(2, 1, 15, 15), conceal = conceal)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      def mb(diff: Int): Unit = {
        w.b("1").b("1") // inc 1, type intra
        if (conceal == 1) {
          w.b("010").bits(1, 1) // x: motion_code +1, residual 1
          w.b("1") // y: motion_code 0
          w.put(1) // marker_bit
        }
        dcLuma(w, diff); w.b("10")
        for (_ <- 0 until 3) { dcLuma(w, 0); w.b("10") }
        for (_ <- 0 until 2) { dcChroma0(w); w.b("10") }
      }
      mb(-48) // 80
      mb(80) // 160
      w.bytes
    }
    val (_, fC) = Mpeg1.decodeAccessUnitRef(None, au(1))
    val (_, fN) = Mpeg1.decodeAccessUnitRef(None, au(0))
    assert(fC.isDefined, "conceal-MV I-picture must decode")
    assert(fC.get.y.toSeq == fN.get.y.toSeq &&
      fC.get.cb.toSeq == fN.get.cb.toSeq,
      "conceal vectors must not change intra pixels")
    assert(fC.get.y(0) == 80 && fC.get.y(16) == 160)
    // P with conceal stays a boundary: whole picture drops
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15), conceal = 1)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1").b("1").b("1").b("1010")
      w.b("000001").bits(0, 6).bits(30, 12).b("10")
      w.bytes
    }
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, m2Au(acLevel = 0))
    val (c2, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    assert(fP.isEmpty && c2.exists(_.ref.isEmpty))
  }

  test("quant_matrix_extension: fresh intra matrix applies AND persists") {
    // AU 1 downloads a flat-32 intra matrix via the extension: the (0,2)
    // AC dequants to 2·2·2·32/32 = 8 (not 4). AU 2 carries NO extension —
    // §6.3.11 persistence means it must still decode with the downloaded
    // matrix, not the sequence header's flat 16.
    def picAu(withExt: Boolean, withSeq: Boolean): Array[Byte] = {
      val w = new BitWriter
      if (withSeq) { seqHeader(w, 16, 16); seqExtension(w) }
      pictureHeader(w, 1)
      picExtension(w)
      if (withExt) {
        startCode(0xb5)(w)
        w.bits(3, 4) // identifier: Quant Matrix Extension
        w.put(1) // load_intra_quantiser_matrix
        for (_ <- 0 until 64) w.bits(32, 8)
        w.put(0).put(0).put(0) // no non-intra / chroma downloads
      }
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      intraMb(w, y0Diff = 0, acLevel = 2)
      w.bytes
    }
    val (c1, f1) = Mpeg1.decodeAccessUnitRef(None, picAu(withExt = true, withSeq = true))
    val want = block(Map((0, 0) -> 1024, (0, 1) -> 8, (7, 7) -> 1))
    assert(y0Of(f1.get) == want, "downloaded matrix must apply")
    assert(y0Of(f1.get) != y0Of {
      Mpeg1.decodeAccessUnitRef(None, m2Au())._2.get
    }, "the fixture must discriminate from the sequence-header matrix")
    val (_, f2) = Mpeg1.decodeAccessUnitRef(c1, picAu(withExt = false, withSeq = false))
    assert(y0Of(f2.get) == want, "download must PERSIST to the next picture")
    // a fresh sequence header resets to the header's own matrices
    val (_, f3) = Mpeg1.decodeAccessUnitRef(c1, picAu(withExt = false, withSeq = true))
    assert(y0Of(f3.get) ==
      block(Map((0, 0) -> 1024, (0, 1) -> 4, (7, 7) -> 1)),
      "a sequence header must reset the matrices")
  }

  /** 16×16 4:2:2 intra AU: luma flat 128, Cb TOP-half 160 / BOTTOM-half
    * 96 (eight-block macroblock, chroma DC chain 128 → 160 → 96), Cr 128.
    */
  private def m422IntraAu: Array[Byte] = {
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w, chroma = 2)
    pictureHeader(w, 1)
    picExtension(w)
    startCode(0x01)(w)
    w.bits(1, 5).put(0)
    w.b("1").b("1") // inc 1, type intra
    for (_ <- 0 until 4) { dcLuma(w, 0); w.b("10") } // Y0..Y3 flat
    dcChroma(w, 32); w.b("10") // block 4: Cb top 128 -> 160
    dcChroma0(w); w.b("10") // block 5: Cr top 128
    dcChroma(w, -64); w.b("10") // block 6: Cb bottom 160 -> 96
    dcChroma0(w); w.b("10") // block 7: Cr bottom 128
    w.bytes
  }

  test("4:2:2 intra: eight-block macroblock, half-width full-height chroma") {
    val (ctx, frame) = Mpeg1.decodeAccessUnitRef(None, m422IntraAu)
    assert(ctx.exists(_.seq.m2.exists(_.chromaFormat == 2)))
    val f = frame.get
    assert(f.y.forall(_ == 128), "luma flat")
    assert(f.cb.length == 8 * 16 && f.cr.length == 8 * 16,
      "4:2:2 chroma planes are half width, FULL height")
    for (r <- 0 until 16; c <- 0 until 8) {
      val want = if (r < 8) 160 else 96
      assert(f.cb(r * 8 + c) == want, s"cb ($r,$c): ${f.cb(r * 8 + c)}")
    }
    assert(f.cr.forall(_ == 128), "cr flat")
  }

  test("4:2:2 P: coded_block_pattern_1 reaches the second chroma pair") {
    // flat-128 4:2:2 reference, then P with cbp 60 ('111') + cbp_1 '11':
    // all four luma blocks AND chroma blocks 6/7 carry the escape +30
    // residual (F = 61 -> +7.625 -> +8 rounded). Luma lifts to 136
    // everywhere; Cb/Cr lift ONLY on their bottom 8 lines.
    val iAu = {
      val w = new BitWriter
      seqHeader(w, 16, 16)
      seqExtension(w, chroma = 2)
      pictureHeader(w, 1)
      picExtension(w)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1")
      for (_ <- 0 until 4) { dcLuma(w, 0); w.b("10") }
      for (_ <- 0 until 4) { dcChroma0(w); w.b("10") }
      w.bytes
    }
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15))
      startCode(0x01)(w)
      w.bits(1, 5).put(0) // qs = 2
      w.b("1").b("01") // inc 1, type: coded_pattern only
      w.b("111") // cbp 60: the four luma blocks
      w.b("11") // coded_block_pattern_1: chroma blocks 6 AND 7
      for (_ <- 0 until 6) { // Y0..Y3, then blocks 6, 7
        w.b("000001").bits(0, 6).bits(30, 12)
        w.b("10")
      }
      w.bytes
    }
    val (c1, fI) = Mpeg1.decodeAccessUnitRef(None, iAu)
    assert(fI.exists(f => f.y.forall(_ == 128) && f.cb.forall(_ == 128)))
    val (_, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    val f = fP.get
    assert(f.y.forall(_ == 136), "luma lifted everywhere")
    for (r <- 0 until 16; c <- 0 until 8) {
      val want = if (r < 8) 128 else 136
      assert(f.cb(r * 8 + c) == want, s"cb ($r,$c)")
      assert(f.cr(r * 8 + c) == want, s"cr ($r,$c)")
    }
  }

  test("4:2:2 chroma motion: horizontal halved, VERTICAL unscaled") {
    // reference: Cb top 160 / bottom 96. P with a pure vertical MV of
    // +2 half-pel (= 1 luma pel = 1 CHROMA pel in 4:2:2): the chroma
    // prediction shifts up one chroma line — row 7 becomes 96. A 4:2:0-
    // style halving (0.5 chroma pel) would interpolate row 7 to ~128.
    val pAu = {
      val w = new BitWriter
      pictureHeader(w, 2)
      picExtension(w, fc = Seq(1, 1, 15, 15))
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("001") // inc 1, type: MC only
      w.b("1") // x: motion_code 0
      w.b("0010") // y: motion_code +2 (f_code 1: no residual)
      w.bytes
    }
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, m422IntraAu)
    val (_, fP) = Mpeg1.decodeAccessUnitRef(c1, pAu)
    val f = fP.get
    for (r <- 0 until 16; c <- 0 until 8) {
      val want = if (r < 7) 160 else 96 // rows fetch ref row r+1
      assert(f.cb(r * 8 + c) == want, s"cb ($r,$c): ${f.cb(r * 8 + c)}")
    }
    assert(f.y.forall(_ == 128) && f.cr.forall(_ == 128))
  }

  test("4:2:2 field-DCT macroblocks and 4:4:4 chroma stay boundaries") {
    val fieldAu = {
      val w = new BitWriter
      seqHeader(w, 16, 16)
      seqExtension(w, chroma = 2)
      pictureHeader(w, 1)
      picExtension(w, fpfd = 0)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1")
      w.put(1) // dct_type = 1: out of scope in 4:2:2
      w.bytes
    }
    val (_, f1) = Mpeg1.decodeAccessUnitRef(None, fieldAu)
    assert(f1.isEmpty, "4:2:2 field DCT must not decode")
    val c444 = {
      val w = new BitWriter
      seqHeader(w, 16, 16)
      seqExtension(w, chroma = 3)
      pictureHeader(w, 1)
      picExtension(w)
      startCode(0x01)(w)
      w.bits(1, 5).put(0)
      w.b("1").b("1")
      w.bytes
    }
    val (_, f2) = Mpeg1.decodeAccessUnitRef(None, c444)
    assert(f2.isEmpty, "4:4:4 must not decode")
  }

  test("Mpeg2Writer: encode → decode closed-form, all four picture shapes") {
    import graft.pipeline.Mpeg2Writer
    val aus = Mpeg2Writer.ipbfPictures(32, 16, gray = 96, delta = 20)
    var ctx: Option[Mpeg1.StreamCtx] = None
    val frames = aus.map { au =>
      val (c, f) = Mpeg1.decodeAccessUnitRef(ctx, au)
      ctx = c
      f
    }
    assert(frames.forall(_.isDefined), "every encoded picture must decode")
    assert(frames(0).get.y.forall(_ == 96), "I: flat gray")
    assert(frames(1).get.y.forall(_ == 116), "P: flat gray + delta")
    assert(frames(2).get.y.forall(_ == 106), "B: rounded average (213>>1)")
    val fy = frames(3).get.y
    for (line <- 0 until 16; c <- 0 until 32) {
      val want = if (line % 2 == 0) 96 else 136
      assert(fy(line * 32 + c) == want, s"field-DCT I line $line col $c")
    }
    // and through the program-stream container end to end
    import org.apache.spark.sql.Encoders
    val mpg = Mpeg1Ps.mux(aus)
    val blobs = spark.createDataset(Seq(Multimodal.Blob(7L, mpg)))(
      Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .sortBy(_.frame_idx)
    assert(out.length == 4 && out.forall(_.ok))
    assert(out.map(_.mean_luma).toSeq == Seq(96.0, 116.0, 106.0, 116.0))
  }

  test("4:2:2 chroma quant matrix download dequantises CHROMA blocks only") {
    // quant_matrix_extension loads ONLY chroma_intra (flat 32). The same
    // B.14 (0,2) coefficient then dequants to F = 2·2·2·16/32 = 4 on a
    // LUMA block (sequence header's flat-16 intra matrix) but
    // F = 2·2·2·32/32 = 8 on a chroma block — and the download PERSISTS
    // to the next picture (§6.3.11).
    def picAu(withSeq: Boolean, withExt: Boolean): Array[Byte] = {
      val w = new BitWriter
      if (withSeq) { seqHeader(w, 16, 16); seqExtension(w, chroma = 2) }
      pictureHeader(w, 1)
      picExtension(w)
      if (withExt) {
        startCode(0xb5)(w)
        w.bits(3, 4) // identifier: Quant Matrix Extension
        w.put(0).put(0) // no intra / non-intra downloads
        w.put(1) // load_chroma_intra_quantiser_matrix
        for (_ <- 0 until 64) w.bits(32, 8)
        w.put(0) // no chroma non-intra download
      }
      startCode(0x01)(w)
      w.bits(1, 5).put(0) // qs = 2
      w.b("1").b("1") // inc 1, type intra
      dcLuma(w, 0); w.b("0100").put(0); w.b("10") // Y0: DC 0 + AC (0,2)
      for (_ <- 0 until 3) { dcLuma(w, 0); w.b("10") }
      dcChroma0(w); w.b("0100").put(0); w.b("10") // block 4 Cb top: same AC
      for (_ <- 0 until 3) { dcChroma0(w); w.b("10") } // blocks 5..7
      w.bytes
    }
    val (c1, f1) = Mpeg1.decodeAccessUnitRef(None,
      picAu(withSeq = true, withExt = true))
    val f = f1.get
    val lumaWant = block(Map((0, 0) -> 1024, (0, 1) -> 4, (7, 7) -> 1))
    val chromaWant = block(Map((0, 0) -> 1024, (0, 1) -> 8, (7, 7) -> 1))
    assert(chromaWant != lumaWant, "fixture must discriminate the matrices")
    assert(y0Of(f) == lumaWant, "luma keeps the sequence-header matrix")
    val cbTop = for (r <- 0 until 8; c <- 0 until 8) yield f.cb(r * 8 + c)
    assert(cbTop == chromaWant, "chroma uses the downloaded matrix")
    // persistence to a following picture without the extension
    val (_, f2) = Mpeg1.decodeAccessUnitRef(c1,
      picAu(withSeq = false, withExt = false))
    val cb2 = for (r <- 0 until 8; c <- 0 until 8) yield f2.get.cb(r * 8 + c)
    assert(cb2 == chromaWant, "chroma download must persist")
  }

  test("4:2:0 ignores chroma quant matrix downloads (two-matrix format)") {
    // §6.3.11: in 4:2:0 only the luma pair exists — a downloaded
    // chroma_intra matrix (flat 32) must NOT change chroma dequant; the
    // Cb AC (0,2) stays F = 2·2·2·16/32 = 4 from the sequence matrix.
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w) // chroma_format 1: 4:2:0
    pictureHeader(w, 1)
    picExtension(w)
    startCode(0xb5)(w)
    w.bits(3, 4) // identifier: Quant Matrix Extension
    w.put(0).put(0) // no intra / non-intra downloads
    w.put(1) // load_chroma_intra_quantiser_matrix (flat 32)
    for (_ <- 0 until 64) w.bits(32, 8)
    w.put(0) // no chroma non-intra download
    startCode(0x01)(w)
    w.bits(1, 5).put(0) // qs = 2
    w.b("1").b("1") // inc 1, type intra
    for (_ <- 0 until 4) { dcLuma(w, 0); w.b("10") } // Y0..Y3: DC-only
    dcChroma0(w); w.b("0100").put(0); w.b("10") // Cb: DC 0 + AC (0,2)
    dcChroma0(w); w.b("10") // Cr: DC-only
    val (_, f) = Mpeg1.decodeAccessUnitRef(None, w.bytes)
    val cb = for (r <- 0 until 8; c <- 0 until 8) yield f.get.cb(r * 8 + c)
    assert(cb == block(Map((0, 0) -> 1024, (0, 1) -> 4, (7, 7) -> 1)),
      "4:2:0 chroma must keep the luma (sequence-header) matrix")
  }

  test("Mpeg2Writer 4:2:2: encode → decode closed-form I/P/B") {
    import graft.pipeline.Mpeg2Writer
    val aus = Mpeg2Writer.ipb422Pictures(32, 16, gray = 106, delta = 20)
    var ctx: Option[Mpeg1.StreamCtx] = None
    val frames = aus.map { au =>
      val (c, f) = Mpeg1.decodeAccessUnitRef(ctx, au)
      ctx = c
      f
    }
    assert(frames.forall(_.isDefined))
    assert(frames(0).get.y.forall(_ == 106))
    assert(frames(0).get.cb.length == 16 * 16, "4:2:2 chroma: full height")
    assert(frames(1).get.y.forall(_ == 126))
    assert(frames(2).get.y.forall(_ == 116)) // (212 + 20 + 1) >> 1
    assert(frames.forall(_.get.cb.forall(_ == 128)))
  }

  test("13818-2 escape form: 6-bit run + 12-bit signed level") {
    // hand-code ESCAPE with run 2, level -5: F at scan 3 (raster (2,0))
    // = 2·(-5)·2·16/32 = -10; DC 1024; sum 1014 even -> toggle
    val w = new BitWriter
    seqHeader(w, 16, 16)
    seqExtension(w)
    pictureHeader(w, 1)
    picExtension(w)
    startCode(0x01)(w)
    w.bits(1, 5).put(0)
    w.b("1").b("1")
    dcLuma(w, 0)
    w.b("000001").bits(2, 6).bits((-5 + 4096) & 0xfff, 12) // escape
    w.b("10")
    for (_ <- 0 until 3) { dcLuma(w, 0); w.b("10") }
    for (_ <- 0 until 2) { dcChroma0(w); w.b("10") }
    val (_, frame) = Mpeg1.decodeAccessUnitRef(None, w.bytes)
    // zigzag scan index 3 = raster 16 = (v,u) = (2,0)
    assert(y0Of(frame.get) ==
      block(Map((0, 0) -> 1024, (2, 0) -> -10, (7, 7) -> 1)))
  }
}
