package graft

import graft.pipeline.{Mpeg1, Multimodal}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** MPEG-1 intra decoder against HAND-ASSEMBLED bitstreams (ISO/IEC
  * 11172-2 layout written bit by bit below — same discipline as the
  * TIFF/zarr/blosc fixtures) with pixel oracles computed from the
  * closed-form IDCT cosine arithmetic, independent of the decoder's
  * parsing path.
  */
class Mpeg1Spec extends AnyFunSuite {

  // ---- bit-level stream assembler ----
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nb = 0
    def put(bit: Int): this.type = {
      cur = (cur << 1) | bit; nb += 1
      if (nb == 8) { buf += cur.toByte; cur = 0; nb = 0 }
      this
    }
    /** Append literal bits, e.g. b("0100"). */
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

  /** sequence header; intraQ=None keeps the spec default matrix. */
  private def seqHeader(w: BitWriter, width: Int, height: Int,
      intraQ: Option[Array[Int]] = None): Unit = {
    startCode(0xb3)(w)
    w.bits(width, 12).bits(height, 12)
      .bits(1, 4) // pel_aspect_ratio
      .bits(1, 4) // picture_rate
      .bits(0x3ffff, 18).put(1) // bit_rate + marker
      .bits(0, 10).put(0) // vbv_buffer_size + constrained flag
    intraQ match {
      case Some(m) => w.put(1); m.foreach(v => w.bits(v, 8))
      case None => w.put(0)
    }
    w.put(0) // load_non_intra_quantizer_matrix
  }

  private def pictureHeader(w: BitWriter, ptype: Int,
      fullPel: Boolean = false, fCode: Int = 1,
      fullPelB: Boolean = false, fCodeB: Int = 1): Unit = {
    startCode(0x00)(w)
    w.bits(0, 10).bits(ptype, 3).bits(0xffff, 16)
    if (ptype == 2 || ptype == 3) {
      w.put(if (fullPel) 1 else 0); w.bits(fCode, 3)
    }
    if (ptype == 3) { w.put(if (fullPelB) 1 else 0); w.bits(fCodeB, 3) }
    w.put(0) // extra_bit_picture
    w.align()
  }

  /** Access unit: sequence header + a 32x16 two-tone I-picture — left
    * macroblock uniform luma 80, right uniform 160, chroma 128. DC chain:
    * Y0 of MB0 carries -48, Y0 of MB1 +80, everything else predicts 0.
    */
  private def twoToneIntraAu: Array[Byte] = {
    val w = new BitWriter
    seqHeader(w, 32, 16)
    pictureHeader(w, 1)
    startCode(0x01)(w)
    w.bits(8, 5).put(0) // q_scale 8
    w.b("1").b("1") // MB0: inc 1, intra
    w.b("11110").bits(-48 + 63, 6).b("10") // Y0 DC diff -48 (1024->640)
    for (_ <- 0 until 3) w.b("100").b("10") // Y1..Y3 diff 0 (80)
    for (_ <- 0 until 2) w.b("00").b("10") // chroma 128
    w.b("1").b("1") // MB1: inc 1, intra
    w.b("111110").bits(80, 7).b("10") // Y0 DC diff +80 (640->1280)
    for (_ <- 0 until 3) w.b("100").b("10")
    for (_ <- 0 until 2) w.b("00").b("10")
    w.align()
    w.bytes
  }

  // closed-form expectations (independent of the decoder's IDCT code)
  private def c(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2) else 1.0
  private def clamp(d: Double): Int =
    math.max(0, math.min(255, math.round(d).toInt))

  test("flat-gray I-frame: DC-only blocks, default matrix") {
    val w = new BitWriter
    seqHeader(w, 16, 16)
    pictureHeader(w, 1)
    startCode(0x01)(w) // slice 1
    w.bits(8, 5).put(0) // quantizer_scale, extra_bit
    w.b("1").b("1") // addr_inc 1, type intra
    for (_ <- 0 until 4) w.b("100").b("10") // luma DC diff 0, EOB
    for (_ <- 0 until 2) w.b("00").b("10") // chroma DC diff 0, EOB
    startCode(0xb7)(w) // sequence_end
    val f = ReferenceForms.decodeIntra(w.bytes).get
    assert(f.width == 16 && f.height == 16)
    assert(f.y.forall(_ == 128), "flat DC 1024 must decode to uniform 128")
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
    assert(f.meanLuma == 128.0)
  }

  test("two macroblocks: DC prediction chain, AC coefficient, mid-MB quantizer change") {
    val w = new BitWriter
    seqHeader(w, 32, 16)
    pictureHeader(w, 1)
    startCode(0x01)(w)
    w.bits(8, 5).put(0) // q_scale 8
    // MB0: intra. Y0: DC diff +2 (size 2) + AC run0/level+2 at zigzag 1
    w.b("1").b("1")
    w.b("01").b("10") // dc_size 2, bits 10 -> diff +2 (DC 1040 -> 130)
    w.b("0100").b("0") // run 0 / level 2, positive
    w.b("10") // EOB
    for (_ <- 0 until 3) w.b("100").b("10") // Y1..Y3 diff 0 (130)
    w.b("01").b("1").b("10") // Cb: size 1, bit 1 -> diff +1 (1032 -> 129)
    w.b("00").b("10") // Cr diff 0 (128)
    // MB1: intra+quant, q_scale 10. Y0: DC diff -1, AC run0/level+1
    w.b("1").b("01").bits(10, 5)
    w.b("00").b("0") // dc_size 1, bit 0 -> diff -1 (pred 1040 -> 1032 -> 129)
    w.b("11").b("0") // run 0 / level 1, positive
    w.b("10") // EOB
    for (_ <- 0 until 3) w.b("100").b("10") // Y1..Y3 diff 0 (129)
    w.b("00").b("10") // Cb diff 0 (pred 1032 -> 129)
    w.b("00").b("10") // Cr diff 0 (128)
    startCode(0xb7)(w)
    val f = ReferenceForms.decodeIntra(w.bytes).get
    assert(f.width == 32 && f.height == 16)
    // dequant oracle: (2*level*q*W)/16, even -> toward zero by 1
    // MB0 Y0: (2*2*8*16)/16 = 32 -> 31 at (u=1, v=0)
    // MB1 Y0: (2*1*10*16)/16 = 20 -> 19 at (u=1, v=0)
    def acPix(dcPix: Double, coeff: Int, x: Int): Int =
      clamp(dcPix + c(1) * c(0) / 4.0 * coeff *
        math.cos((2 * x + 1) * math.Pi / 16))
    for (y <- 0 until 8; x <- 0 until 8) {
      assert(f.y(y * 32 + x) == acPix(130.0, 31, x), s"MB0 Y0 ($x,$y)")
      assert(f.y(y * 32 + 16 + x) == acPix(129.0, 19, x), s"MB1 Y0 ($x,$y)")
      assert(f.y(y * 32 + 8 + x) == 130, s"MB0 Y1 ($x,$y)") // DC only
      assert(f.y(y * 32 + 24 + x) == 129, s"MB1 Y1 ($x,$y)")
      assert(f.y((y + 8) * 32 + x) == 130 && f.y((y + 8) * 32 + 8 + x) == 130)
      assert(f.y((y + 8) * 32 + 16 + x) == 129)
    }
    // chroma plane is 16x8: MB0 Cb 129, MB1 Cb 129 (pred chain), Cr 128
    assert(f.cb.forall(_ == 129) && f.cr.forall(_ == 128))
  }

  test("escape-coded level + custom intra matrix + clamping") {
    val w = new BitWriter
    seqHeader(w, 16, 16, intraQ = Some(Array.fill(64)(16)))
    pictureHeader(w, 1)
    startCode(0x01)(w)
    w.bits(8, 5).put(0)
    w.b("1").b("1")
    // Y0: DC diff 0 then ESCAPE run=2 level=-100
    w.b("100")
    w.b("000001").bits(2, 6).bits(156, 8) // 156 = -100 two's complement
    w.b("10") // EOB
    for (_ <- 0 until 3) w.b("100").b("10")
    for (_ <- 0 until 2) w.b("00").b("10")
    startCode(0xb7)(w)
    val f = ReferenceForms.decodeIntra(w.bytes).get
    // coefficient lands at zigzag index 1+2=3 -> raster 16 -> (u=0, v=2);
    // dequant (2*-100*8*16)/16 = -1600 -> -1599; pixels depend on ROW only
    // and swing past [0,255], exercising the clamp
    for (y <- 0 until 8; x <- 0 until 8) {
      val want = clamp(128.0 + c(0) * c(2) / 4.0 * -1599 *
        math.cos((2 * y + 1) * 2 * math.Pi / 16))
      assert(f.y(y * 16 + x) == want, s"($x,$y)")
    }
    assert(f.y.slice(0, 16).exists(_ == 255) || f.y.exists(_ == 255))
    assert(f.y.exists(_ == 0), "negative swing must clamp at 0")
  }

  test("writer round trip: grayStream encodes valid DC-only streams") {
    import graft.pipeline.Mpeg1Writer
    // multi-macroblock, non-multiple-of-16 height exercises padding rows
    val es = ReferenceForms.grayStream(48, 24, Seq(200))
    val f = ReferenceForms.decodeIntra(es).get
    assert(f.width == 48 && f.height == 24)
    assert(f.meanLuma == 200.0)
    // display-region pixels all 200 (the padded rows are excluded by
    // meanLuma; the plane itself is uniform too since every MB encodes)
    assert(f.y.forall(_ == 200))
    // per-AU form: second picture decodes via carried context
    val aus = Mpeg1Writer.grayPictures(16, 16, Seq(5, 250))
    val (ctx, f0) = Mpeg1.decodeAccessUnit(None, aus(0))
    val (_, f1) = Mpeg1.decodeAccessUnit(ctx, aus(1))
    assert(f0.get.meanLuma == 5.0 && f1.get.meanLuma == 250.0)
  }

  test("writer I+P+B round trip: exact closed-form lumas per picture class") {
    import graft.pipeline.Mpeg1Writer
    // non-multiple-of-16 height exercises padding through the P/B paths
    val Seq(ai, ap, ab) = Mpeg1Writer.ipbPictures(48, 24, gray = 90, delta = 17)
    val (c1, fi) = Mpeg1.decodeAccessUnitRef(None, ai)
    val (c2, fp) = Mpeg1.decodeAccessUnitRef(c1, ap)
    val (c3, fb) = Mpeg1.decodeAccessUnitRef(c2, ab)
    assert(fi.get.y.forall(_ == 90), "I: uniform encoded gray")
    // P: residual (2·4·17+1)·1·16/16 = 137, flat IDCT 17.125/pel -> +17
    assert(fp.get.y.forall(_ == 107), "P: reference + exact delta")
    // B: rounded bidirectional average (90 + 107 + 1) >> 1 = 99
    assert(fb.get.y.forall(_ == 99), "B: interpolated references")
    assert(Seq(fi, fp, fb).forall(_.get.cb.forall(_ == 128)))
    // B is not a reference: the carried pair is still (P, I)
    assert(c3.exists(c => c.ref.exists(_.meanLuma == 107.0) &&
      c.prevRef.exists(_.meanLuma == 90.0)))
  }

  test("no sequence header, P-pictures, truncation -> None") {
    val p = new BitWriter
    pictureHeader(p, 1)
    assert(ReferenceForms.decodeIntra(p.bytes).isEmpty) // picture but no context
    val w = new BitWriter
    seqHeader(w, 16, 16)
    pictureHeader(w, 2) // P-picture: intra-only decoder must decline
    startCode(0x01)(w)
    w.bits(8, 5).put(0).b("11")
    assert(ReferenceForms.decodeIntra(w.bytes).isEmpty)
    assert(ReferenceForms.decodeIntra(Array[Byte](0, 0, 1)).isEmpty)
    assert(ReferenceForms.decodeIntra(Array.empty[Byte]).isEmpty)
  }

  // ---- MP4 plumbing: mp1v track with the sequence header only in the
  // first sample; later samples decode against the carried context ----

  lazy val spark: SparkSession = TestSession.spark

  test("MP4 mp1v track: carried sequence context, real luma per sampled frame") {
    import java.nio.ByteBuffer
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(body: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + body.length).putInt(0).put(body).array()
    // sample 0: sequence header + flat-128 I picture
    val s0 = {
      val w = new BitWriter
      seqHeader(w, 16, 16)
      pictureHeader(w, 1)
      startCode(0x01)(w)
      w.bits(8, 5).put(0).b("1").b("1")
      for (_ <- 0 until 4) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
      w.bytes
    }
    // sample 1: picture-only AU, DC diff +4 -> 132 gray, NO seq header
    val s1 = {
      val w = new BitWriter
      pictureHeader(w, 1)
      startCode(0x01)(w)
      w.bits(8, 5).put(0).b("1").b("1")
      w.b("101").b("100").b("10") // dc_size 3, bits 100 -> diff +4
      for (_ <- 0 until 3) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
      w.bytes
    }
    def mkMp4(fcc: String): Array[Byte] = {
      val stsd = box("stsd", full(ByteBuffer.allocate(20).putInt(1)
        .putInt(16).put(fcc.getBytes("US-ASCII")).array()))
      val mdhd = box("mdhd", full(ByteBuffer.allocate(20)
        .putInt(0).putInt(0).putInt(10).putInt(10).array()))
      val stsz = box("stsz", full(ByteBuffer.allocate(16)
        .putInt(0).putInt(2).putInt(s0.length).putInt(s1.length).array()))
      val stsc = box("stsc", full(ByteBuffer.allocate(16)
        .putInt(1).putInt(1).putInt(2).putInt(1).array()))
      val stts = box("stts", full(ByteBuffer.allocate(12)
        .putInt(1).putInt(2).putInt(5).array()))
      def mkMoov(off: Int) = box("moov", box("trak", box("mdia",
        box("hdlr", full(ByteBuffer.allocate(20).putInt(0)
          .put("vide".getBytes("US-ASCII")).array())) ++ mdhd ++
          box("minf", box("stbl", stsd ++ stsz ++ stsc ++ stts ++
            box("stco", full(ByteBuffer.allocate(8).putInt(1).putInt(off)
              .array())))))))
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"))
      val off = ftyp.length + mkMoov(0).length + 8
      ftyp ++ mkMoov(off) ++ box("mdat", s0 ++ s1)
    }
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, mkMp4("mp1v")), Multimodal.Blob(2L, mkMp4("avc1"))))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f).toMap
    assert(out.size == 4)
    val f0 = out((1L, 0)); val f1 = out((1L, 1))
    assert(f0.ok && f0.width == 16 && f0.height == 16 && f0.mean_luma == 128.0)
    assert(f1.ok && f1.mean_luma == 132.0,
      "picture-only AU must decode via the carried sequence context")
    // an avc1 track must not sniff-decode
    assert(!out((2L, 0)).ok && !out((2L, 1)).ok)
  }

  // ---- P-pictures: forward motion compensation (11172-2 §2.4.4.2) ----

  test("P-picture full-pel vector copies the right macroblock; gaps keep ref") {
    val (ctx1, f1) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    assert(f1.exists(_.meanLuma == 120.0)) // (80 + 160) / 2
    val p = new BitWriter
    pictureHeader(p, 2, fullPel = true, fCode = 2)
    startCode(0x01)(p)
    p.bits(8, 5).put(0) // q_scale, extra_bit
    p.b("1") // inc 1
    p.b("001") // type: motion_forward only, not coded
    // +16 full pels with f_code 2: motion_code +8, residual r = 1
    // (delta = (8-1)*2 + 1 + 1 = 16); +16 would WRAP at f_code 1
    p.b("0000010110").bits(1, 1)
    p.b("1") // vertical motion_code 0 (no residual when code == 0)
    p.align()
    val (ctx2, f2) = Mpeg1.decodeAccessUnitRef(ctx1, p.bytes)
    val f = f2.get
    // MB0 predicted from 16 px right (uniform 160); MB1 not covered by
    // the slice -> keeps the reference content (160)
    assert(f.y.forall(_ == 160), "full-pel copy of the right macroblock")
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
    assert(ctx2.exists(_.ref.contains(f)), "decoded P becomes the reference")
  }

  test("P-picture half-pel vector: +1 rounding average across the tone edge") {
    val (ctx1, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val p = new BitWriter
    pictureHeader(p, 2, fullPel = false, fCode = 1)
    startCode(0x01)(p)
    p.bits(8, 5).put(0)
    p.b("1").b("001") // inc 1, MC only
    p.b("00000011010") // motion_code +15 -> 7.5 px right
    p.b("1") // vertical 0
    p.align()
    val (_, f2) = Mpeg1.decodeAccessUnitRef(ctx1, p.bytes)
    val f = f2.get
    for (y <- 0 until 16; x <- 0 until 16) {
      val want =
        if (x <= 7) 80 // both taps in the left tone
        else if (x == 8) (80 + 160 + 1) >> 1 // taps straddle the edge
        else 160
      assert(f.y(y * 32 + x) == want, s"halfpel ($x,$y)")
      assert(f.y(y * 32 + 16 + x) == 160, s"MB1 untouched ($x,$y)")
    }
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
  }

  test("P-picture coded-no-MC: zero-vector copy plus a non-intra residual") {
    val (ctx1, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val p = new BitWriter
    pictureHeader(p, 2)
    startCode(0x01)(p)
    p.bits(8, 5).put(0)
    p.b("1").b("01") // inc 1, type: coded_pattern only (zero vector)
    p.b("1010") // cbp = 32: only Y0 carries coefficients
    p.b("10") // dct_coeff_first "1"+sign0 = run 0, level +1
    p.b("10") // EOB
    p.align()
    val (_, f2) = Mpeg1.decodeAccessUnitRef(ctx1, p.bytes)
    val f = f2.get
    // non-intra dequant: (2*1+1)*8*16/16 = 24, even -> 23; DC-only IDCT
    // adds 23/8 = 2.875 to every Y0 pixel: round(80 + 2.875) = 83
    for (y <- 0 until 16; x <- 0 until 16) {
      val want = if (y < 8 && x < 8) 83 else 80
      assert(f.y(y * 32 + x) == want, s"residual ($x,$y)")
      assert(f.y(y * 32 + 16 + x) == 160, s"MB1 skipped ($x,$y)")
    }
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
  }

  test("P without reference, B without both references, chain semantics") {
    // P as the first picture: sequence context exists but no reference
    val w = new BitWriter
    seqHeader(w, 32, 16)
    pictureHeader(w, 2)
    startCode(0x01)(w)
    w.bits(8, 5).put(0).b("1").b("001").b("1").b("1")
    w.align()
    val (ctx, frame) = Mpeg1.decodeAccessUnitRef(None, w.bytes)
    assert(frame.isEmpty)
    assert(ctx.exists(_.ref.isEmpty), "undecoded picture leaves no reference")
    // ... and a following P must decline rather than predict stale data
    val p0 = new BitWriter
    pictureHeader(p0, 2)
    startCode(0x01)(p0)
    p0.bits(8, 5).put(0).b("1").b("001").b("1").b("1")
    p0.align()
    assert(Mpeg1.decodeAccessUnitRef(ctx, p0.bytes)._2.isEmpty)
    // a B-picture with only ONE carried reference cannot decode (its
    // forward/past reference is missing), but B is NOT a reference: the
    // failure leaves the I→P chain intact
    val (ctx1, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val b = new BitWriter
    pictureHeader(b, 3)
    startCode(0x01)(b)
    b.bits(8, 5).put(0).b("11")
    b.align()
    val (ctx2, fb) = Mpeg1.decodeAccessUnitRef(ctx1, b.bytes)
    assert(fb.isEmpty)
    assert(ctx2.exists(_.ref.nonEmpty),
      "a failed B-picture must NOT break the reference chain")
    // ... so a following P still predicts from the carried I frame
    val p = new BitWriter
    pictureHeader(p, 2)
    startCode(0x01)(p)
    p.bits(8, 5).put(0).b("1").b("001").b("1").b("1")
    p.align()
    val (_, fp) = Mpeg1.decodeAccessUnitRef(ctx2, p.bytes)
    assert(fp.exists(_.meanLuma == 120.0),
      "P after a failed B predicts from the intact reference")
  }

  // ---- B-pictures: bidirectional motion compensation (11172-2 §2.4.4.4) ----

  /** Picture-only flat-128 I AU (`mbs` 16×16 macroblocks, DC diff 0). */
  private def flatIntraPictureAu(mbs: Int): Array[Byte] = {
    val w = new BitWriter
    pictureHeader(w, 1)
    startCode(0x01)(w)
    w.bits(8, 5).put(0)
    for (_ <- 0 until mbs) {
      w.b("1").b("1")
      for (_ <- 0 until 4) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
    }
    w.align()
    w.bytes
  }

  test("D-pictures: DC-only decode, never a reference") {
    import graft.pipeline.Mpeg1Writer
    // writer/decoder round trip: two D AUs, gray chain via carried seq
    val aus = ReferenceForms.dPictures(48, 24, Seq(77, 210))
    val (c1, f0) = Mpeg1.decodeAccessUnitRef(None, aus(0))
    val (c2, f1) = Mpeg1.decodeAccessUnitRef(c1, aus(1))
    assert(f0.get.y.forall(_ == 77) && f0.get.meanLuma == 77.0)
    assert(f1.get.y.forall(_ == 210))
    assert(Seq(f0, f1).forall(_.get.cb.forall(_ == 128)))
    // D never enters the reference slots...
    assert(c2.exists(c => c.ref.isEmpty && c.prevRef.isEmpty))
    // ...and in a mixed stream it must not displace a real reference:
    // I -> D -> P still predicts the P from the I
    val (ci, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val dAu = {
      val w = new BitWriter
      startCode(0x00)(w)
      w.bits(0, 10).bits(4, 3).bits(0xffff, 16).put(0)
      w.align()
      startCode(0x01)(w)
      w.bits(8, 5).put(0)
      for (_ <- 0 until 2) {
        w.b("1").b("1")
        for (blk <- 0 until 6) w.b(if (blk < 4) "100" else "00")
        w.b("1")
      }
      w.align()
      w.bytes
    }
    val (cd, fd) = Mpeg1.decodeAccessUnitRef(ci, dAu)
    assert(fd.exists(_.y.forall(_ == 128)), "flat-128 D in a mixed stream")
    val p = new BitWriter
    pictureHeader(p, 2)
    startCode(0x01)(p)
    p.bits(8, 5).put(0).b("1").b("001").b("1").b("1")
    p.align()
    assert(Mpeg1.decodeAccessUnitRef(cd, p.bytes)._2.exists(_.meanLuma == 120.0),
      "P after a D predicts from the intact I reference")
  }

  test("GOP broken_link drops stale references (edit-point semantics)") {
    def bAu: Array[Byte] = {
      val b = new BitWriter
      pictureHeader(b, 3)
      startCode(0x01)(b)
      b.bits(8, 5).put(0)
      for (_ <- 0 until 2) { b.b("1").b("10"); b.b("1").b("1").b("1").b("1") }
      b.align()
      b.bytes
    }
    def gopIAu(broken: Boolean): Array[Byte] = {
      val w = new BitWriter
      startCode(0xb8)(w)
      w.put(0).bits(0, 5).bits(0, 6).put(1).bits(0, 6).bits(0, 6) // time_code
      w.put(0) // closed_gop
      w.put(if (broken) 1 else 0)
      w.align()
      w.bytes ++ flatIntraPictureAu(2)
    }
    // two references carried in, then a GOP boundary + its I, then a B
    val (c1, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val (c2, _) = Mpeg1.decodeAccessUnitRef(c1, flatIntraPictureAu(2))
    // control: intact GOP — the B after the boundary still has both refs
    val (cOk, _) = Mpeg1.decodeAccessUnitRef(c2, gopIAu(broken = false))
    assert(Mpeg1.decodeAccessUnitRef(cOk, bAu)._2.isDefined,
      "open GOP: leading B predicts across the boundary")
    // broken_link: the pre-edit references are unusable — the B declines
    // instead of compensating from a stale frame
    val (cBr, fi) = Mpeg1.decodeAccessUnitRef(c2, gopIAu(broken = true))
    assert(fi.isDefined, "the GOP's own I still decodes")
    assert(cBr.exists(_.prevRef.isEmpty))
    assert(Mpeg1.decodeAccessUnitRef(cBr, bAu)._2.isEmpty,
      "broken_link: no stale forward reference for the leading B")
  }

  test("B interpolated zero-MV: rounded average of past and future") {
    // past = two-tone (MB0 80, MB1 160), future = flat 128
    val (ctx1, _) = Mpeg1.decodeAccessUnitRef(None, twoToneIntraAu)
    val (ctx2, ff) = Mpeg1.decodeAccessUnitRef(ctx1, flatIntraPictureAu(2))
    assert(ff.exists(_.meanLuma == 128.0))
    val b = new BitWriter
    pictureHeader(b, 3)
    startCode(0x01)(b)
    b.bits(8, 5).put(0)
    b.b("1").b("10") // MB0: inc 1, interpolated (fwd+bwd), not coded
    b.b("1").b("1").b("1").b("1") // all four motion codes 0
    b.b("1").b("0010") // MB1: inc 1, forward only, not coded
    b.b("1").b("1")
    b.align()
    val (ctx3, fb) = Mpeg1.decodeAccessUnitRef(ctx2, b.bytes)
    val f = fb.get
    for (yy <- 0 until 16; x <- 0 until 16) {
      assert(f.y(yy * 32 + x) == ((80 + 128 + 1) >> 1),
        s"interpolated MB0 ($x,$yy)") // 104
      assert(f.y(yy * 32 + 16 + x) == 160, s"forward-only MB1 ($x,$yy)")
    }
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
    // B never becomes a reference: the carried refs are untouched
    assert(ctx3.exists(c => c.ref.exists(_.meanLuma == 128.0) &&
      c.prevRef.exists(_.meanLuma == 120.0)))
  }

  test("B backward full-pel vector; skip repeats direction and vector") {
    // past = flat 128 (3 MBs), future = tones 80 / 160 / 200: every
    // assertion below differs from the past frame, so a pixel equal to
    // the expectation PROVES backward prediction
    val past = {
      val w = new BitWriter
      seqHeader(w, 48, 16)
      w.bytes ++ flatIntraPictureAu(3)
    }
    val (ctx1, _) = Mpeg1.decodeAccessUnitRef(None, past)
    val fut = {
      val w = new BitWriter
      pictureHeader(w, 1)
      startCode(0x01)(w)
      w.bits(8, 5).put(0)
      w.b("1").b("1") // MB0: luma 80 (DC 1024 -> 640)
      w.b("11110").bits(-48 + 63, 6).b("10")
      for (_ <- 0 until 3) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
      w.b("1").b("1") // MB1: luma 160 (640 -> 1280)
      w.b("111110").bits(80, 7).b("10")
      for (_ <- 0 until 3) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
      w.b("1").b("1") // MB2: luma 200 (1280 -> 1600)
      w.b("11110").bits(40, 6).b("10")
      for (_ <- 0 until 3) w.b("100").b("10")
      for (_ <- 0 until 2) w.b("00").b("10")
      w.align()
      w.bytes
    }
    val (ctx2, ff) = Mpeg1.decodeAccessUnitRef(ctx1, fut)
    assert(ff.isDefined)
    val b = new BitWriter
    pictureHeader(b, 3, fullPelB = true, fCodeB = 2)
    startCode(0x01)(b)
    b.bits(8, 5).put(0)
    // MB0: backward only, not coded; bwd MV +16 full pels (motion_code
    // +8 with f_code 2, residual 1: delta = (8-1)*2 + 1 + 1 = 16)
    b.b("1").b("010")
    b.b("0000010110").bits(1, 1) // horizontal +16
    b.b("1") // vertical 0
    // MB1: SKIPPED (inc 2 next) — must repeat backward/+16, landing on
    // the future's MB2 (200), NOT the past (128) or zero-MV future (160)
    // MB2: backward + coded, motion codes 0 (predictor +16 persists,
    // clamped at the right edge -> 200), cbp Y0 only, one +1 level
    b.b("011").b("011")
    b.b("1").b("1")
    b.b("1010") // cbp = 32: Y0
    b.b("10") // dct_coeff_first: run 0, level +1
    b.b("10") // EOB
    b.align()
    val (_, fb) = Mpeg1.decodeAccessUnitRef(ctx2, b.bytes)
    val f = fb.get
    // non-intra dequant of +1 at q_scale 8: (2+1)*8*16/16 = 24, even ->
    // 23; DC-only IDCT spreads 23/8 = 2.875 over Y0: round(200+2.875)
    for (yy <- 0 until 16; x <- 0 until 16) {
      assert(f.y(yy * 48 + x) == 160, s"bwd +16 MB0 ($x,$yy)")
      assert(f.y(yy * 48 + 16 + x) == 200, s"skipped MB1 ($x,$yy)")
      val want = if (yy < 8 && x < 8) 203 else 200
      assert(f.y(yy * 48 + 32 + x) == want, s"MB2 residual ($x,$yy)")
    }
    assert(f.cb.forall(_ == 128) && f.cr.forall(_ == 128))
  }

  test("MP4 mp1v I+P chain: videoFrameFeatures real pixels for both frames") {
    val pAu = {
      val p = new BitWriter
      pictureHeader(p, 2, fullPel = true, fCode = 2)
      startCode(0x01)(p)
      p.bits(8, 5).put(0)
      p.b("1").b("001").b("0000010110").bits(1, 1).b("1")
      p.bytes
    }
    val mp4 = Multimodal.muxMp4("mp1v", Seq(twoToneIntraAu, pAu))
    val blobs = spark.createDataset(Seq(Multimodal.Blob(9L, mp4)))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .map(f => f.frame_idx -> f).toMap
    assert(out.size == 2)
    assert(out(0).ok && out(0).width == 32 && out(0).mean_luma == 120.0)
    assert(out(1).ok && out(1).mean_luma == 160.0,
      "P-picture must motion-compensate against the carried I frame")
  }

  // ---- ISO 11172-1 PROGRAM STREAM (the real `.mpg` container) ----

  test("PS mux/demux round trip: packs, PES, PTS, access-unit split") {
    import graft.pipeline.{Mpeg1Ps, Mpeg1Writer}
    val aus = Mpeg1Writer.ipbPictures(48, 24, gray = 90, delta = 17)
    val ps = Mpeg1Ps.mux(aus, fps = 25)
    assert(Mpeg1Ps.isProgramStream(ps))
    val v = Mpeg1Ps.demuxVideo(ps).get
    assert(v.units.length == 3)
    // each reassembled unit is byte-identical to the encoder's output
    for ((au, k) <- aus.zipWithIndex) {
      val (off, len, ts) = v.units(k)
      assert(v.es.slice(off, off + len).sameElements(au), s"unit $k bytes")
      // PTS = 90000·(k+1)/25 + 90000 ticks → ms = 40·(k+1) + 1000
      assert(ts == 40L * (k + 1) + 1000L, s"unit $k ts=$ts")
    }
  }

  test("PS: oversized access unit spans chunked PES packets losslessly") {
    import graft.pipeline.Mpeg1Ps
    // one synthetic 70000-byte "picture": start code + FF filler (FF can
    // never alias a start-code prefix) — must cross the 16-bit PES length
    // bound and reassemble byte-exact
    val au = Array[Byte](0, 0, 1, 0) ++ Array.fill(70000)(0xff.toByte)
    val v = Mpeg1Ps.demuxVideo(Mpeg1Ps.mux(Seq(au))).get
    assert(v.units.length == 1)
    val (off, len, _) = v.units(0)
    assert(len == au.length && v.es.slice(off, off + len).sameElements(au))
  }

  test("PS blob: videoFrameFeatures decodes real pixels from a .mpg; non-PS unaffected") {
    import graft.pipeline.{Mpeg1Ps, Mpeg1Writer}
    val aus = Mpeg1Writer.ipbPictures(48, 24, gray = 90, delta = 17)
    val mpg = Mpeg1Ps.mux(aus, fps = 25)
    val junk = Array.fill(64)(0x55.toByte) // neither MP4 nor PS
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(21L, mpg), Multimodal.Blob(22L, junk)))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
    assert(out.forall(_.doc_id == 21L), "non-PS junk must yield no rows")
    val byIdx = out.map(f => f.frame_idx -> f).toMap
    assert(byIdx.size == 3)
    // same closed-form lumas as the raw I+P+B round trip — the PS walk
    // carries the sequence context and both references across units
    assert(byIdx(0).ok && byIdx(0).width == 48 && byIdx(0).mean_luma == 90.0)
    assert(byIdx(1).ok && byIdx(1).mean_luma == 107.0)
    assert(byIdx(2).ok && byIdx(2).mean_luma == 99.0)
    assert(byIdx(0).ts_ms == 1040L && byIdx(2).ts_ms == 1120L)
  }

  test("PS: 13818-1 pack marker and flags-form PES header are tolerated") {
    import graft.pipeline.{Mpeg1Ps, Mpeg1Writer}
    val au = Mpeg1Writer.grayPictures(16, 16, Seq(200)).head
    val out = new java.io.ByteArrayOutputStream()
    // MPEG-2 pack: '01' marker, 10 header bytes, stuffing_length = 0
    out.write(Array[Byte](0, 0, 1, 0xba.toByte))
    out.write(Array[Byte](0x44, 0, 4, 0, 4, 1, 0, 0, 3, 0xf8.toByte))
    // flags-form PES: '10'-marker byte, PTS flag, header_data_length 5
    val pts = 90000L
    out.write(Array[Byte](0, 0, 1, 0xe0.toByte))
    val bodyLen = 3 + 5 + au.length
    out.write((bodyLen >> 8) & 0xff); out.write(bodyLen & 0xff)
    out.write(0x80); out.write(0x80); out.write(5)
    out.write((0x2 << 4) | (((pts >> 30) & 7).toInt << 1) | 1)
    out.write(((pts >> 22) & 0xff).toInt)
    out.write((((pts >> 15) & 0x7f).toInt << 1) | 1)
    out.write(((pts >> 7) & 0xff).toInt)
    out.write((((pts & 0x7f) << 1) | 1).toInt)
    out.write(au)
    out.write(Array[Byte](0, 0, 1, 0xb9.toByte))
    val v = Mpeg1Ps.demuxVideo(out.toByteArray).get
    assert(v.units.length == 1)
    val (off, len, ts) = v.units(0)
    assert(v.es.slice(off, off + len).sameElements(au))
    assert(ts == 1000L)
    val (_, frame) = Mpeg1.decodeAccessUnitRef(None, v.es.slice(off, off + len))
    assert(frame.exists(_.y.forall(_ == 200)))
  }
}
