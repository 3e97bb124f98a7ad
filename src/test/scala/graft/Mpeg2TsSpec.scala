package graft

import graft.pipeline.{Mpeg1, Mpeg1Ps, Mpeg2Ts, Mpeg2Writer, Multimodal}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** 13818-1 TRANSPORT STREAM container: mux/demux round trips, the
  * PSI (PAT → PMT) video-PID route vs the PES-sniff fallback, packet
  * chunking with adaptation-field stuffing, and end-to-end pixel decode
  * through `videoFrameFeatures`.
  */
class Mpeg2TsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private def aus: Seq[Array[Byte]] =
    Mpeg2Writer.ipbfPictures(32, 16, gray = 96, delta = 20)

  test("container sniffing: TS is recognised, others are not") {
    val ts = Mpeg2Ts.mux(aus)
    assert(Mpeg2Ts.isTransportStream(ts))
    assert(ts.length % 188 == 0, "whole packets only")
    assert(!Mpeg2Ts.isTransportStream(Mpeg1Ps.mux(aus)))
    assert(!Mpeg2Ts.isTransportStream(Multimodal.muxMp4("mp2v", aus)))
    assert(!Mpeg2Ts.isTransportStream(
      Array.fill(400)('G'.toByte))) // 0x47 text but not at packet 1's sync
    assert(Mpeg1Ps.demuxVideo(ts).isEmpty, "PS demux must not claim a TS")
  }

  test("MPEG-2 PSI CRC-32: published check value") {
    val v = "123456789".getBytes("US-ASCII")
    assert(Mpeg2Ts.crc32(v, 0, v.length) == 0x0376e6e7L,
      "CRC-32/MPEG-2 of '123456789'")
  }

  test("mux → demux: access units byte-exact, PTS carried") {
    // a 128×64 picture (32 macroblocks) makes every access unit span
    // several 184-byte packet payloads, so reassembly across PUSI=0
    // packets and the stuffed tail packet are genuinely exercised
    val in = Mpeg2Writer.ipbfPictures(128, 64, gray = 96, delta = 20)
    assert(in.exists(_.length > 184), "fixture must cross packet boundaries")
    val ts = Mpeg2Ts.mux(in, fps = 25)
    val got = Mpeg2Ts.demuxVideo(ts).get
    assert(got.units.length == in.length)
    for ((((off, len, tsMs), orig), k) <- got.units.zip(in).zipWithIndex) {
      assert(got.es.slice(off, off + len).toSeq == orig.toSeq,
        s"unit $k bytes")
      assert(tsMs == (90000L * (k + 1) / 25 + 90000L) / 90, s"unit $k pts")
    }
  }

  test("PSI route: PMT selects the video PID over an earlier decoy PES") {
    val real = Mpeg2Ts.mux(aus, videoPid = 0x300)
    // decoy packet on PID 0x200 whose payload LOOKS like a video PES
    // start; inserted after PAT+PMT, BEFORE every real video packet. A
    // first-PES sniffer would lock onto it; the PAT→PMT route must not.
    val decoy = new Array[Byte](188)
    java.util.Arrays.fill(decoy, 0xff.toByte)
    decoy(0) = 0x47
    decoy(1) = (0x40 | 0x02).toByte
    decoy(2) = 0x00.toByte
    decoy(3) = 0x10.toByte
    decoy(4) = 0; decoy(5) = 0; decoy(6) = 1; decoy(7) = 0xe0.toByte
    decoy(8) = 0; decoy(9) = 0; decoy(10) = 0x80.toByte
    decoy(11) = 0x00; decoy(12) = 0x00
    val mixed = real.take(2 * 188) ++ decoy ++ real.drop(2 * 188)
    val got = Mpeg2Ts.demuxVideo(mixed).get
    assert(got.units.length == aus.length)
    assert(got.es.slice(got.units(0)._1,
      got.units(0)._1 + got.units(0)._2).toSeq == aus.head.toSeq)
  }

  test("PAT-less capture: the PES-sniff fallback still finds the video") {
    val ts = Mpeg2Ts.mux(aus, videoPid = 0x0123)
    val headless = ts.drop(2 * 188) // strip PAT + PMT packets
    assert(Mpeg2Ts.isTransportStream(headless))
    val got = Mpeg2Ts.demuxVideo(headless).get
    assert(got.units.length == aus.length)
    assert(got.es.slice(got.units(1)._1,
      got.units(1)._1 + got.units(1)._2).toSeq == aus(1).toSeq)
  }

  test("end-to-end: .ts blob → videoFrameFeatures real pixels") {
    import org.apache.spark.sql.Encoders
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(41L, Mpeg2Ts.mux(aus))))(
      Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .sortBy(_.frame_idx)
    assert(out.length == 4 && out.forall(_.ok))
    assert(out.map(_.mean_luma).toSeq == Seq(96.0, 116.0, 106.0, 116.0))
    assert(out.forall(f => f.width == 32 && f.height == 16))
  }

  test("container invariance: MP4, PS and TS yield identical frame features") {
    import org.apache.spark.sql.Encoders
    val a = aus
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, Multimodal.muxMp4("mp2v", a)),
      Multimodal.Blob(2L, Mpeg1Ps.mux(a)),
      Multimodal.Blob(3L, Mpeg2Ts.mux(a))))(
      Encoders.product[Multimodal.Blob])
    val rows = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .groupBy(_.doc_id)
      .map { case (id, fs) =>
        id -> fs.sortBy(_.frame_idx)
          .map(f => (f.frame_idx, f.ok, f.width, f.height, f.mean_luma)).toSeq
      }
    assert(rows(1L) == rows(2L) && rows(2L) == rows(3L),
      "the same access units must decode identically from every container")
    assert(rows(1L).length == 4 && rows(1L).forall(_._2))
  }

  test("closed-form grid: encode → TS → decode exact over (gray, delta)") {
    for {
      gray <- Seq(0, 37, 96, 151, 193)
      delta <- Seq(11, 20, 31)
      if gray + 2 * delta <= 255
    } {
      val in = Mpeg2Writer.ipbfPictures(32, 16, gray, delta)
      val got = Mpeg2Ts.demuxVideo(Mpeg2Ts.mux(in)).get
      var ctx: Option[Mpeg1.StreamCtx] = None
      val frames = got.units.map { case (off, len, _) =>
        val (c, f) = Mpeg1.decodeAccessUnitRef(ctx, got.es.slice(off, off + len))
        ctx = c
        f
      }
      assert(frames.forall(_.isDefined), s"($gray, $delta) all decode")
      assert(frames(0).get.y.forall(_ == gray), s"I ($gray, $delta)")
      assert(frames(1).get.y.forall(_ == gray + delta), s"P ($gray, $delta)")
      val bWant = (2 * gray + delta + 1) >> 1
      assert(frames(2).get.y.forall(_ == bWant), s"B ($gray, $delta)")
      val fy = frames(3).get.y
      for (line <- 0 until 16) {
        val want = if (line % 2 == 0) gray else gray + 2 * delta
        assert((0 until 32).forall(c => fy(line * 32 + c) == want),
          s"field I ($gray, $delta) line $line")
      }
    }
  }

  private def videoPackets(ts: Array[Byte], pid: Int,
      wantPusi: Boolean): Seq[Int] =
    (0 until ts.length / 188).filter { k =>
      val p = k * 188
      (ts(p) & 0xff) == 0x47 &&
        (((ts(p + 1) & 0x1f) << 8) | (ts(p + 2) & 0xff)) == pid &&
        ((ts(p + 1) & 0x40) != 0) == wantPusi
    }

  private def assertDupDiscarded(ts: Array[Byte], k: Int): Unit = {
    val dup = ts.take((k + 1) * 188) ++
      ts.slice(k * 188, (k + 1) * 188) ++ ts.drop((k + 1) * 188)
    val want = Mpeg2Ts.demuxVideo(ts).get
    val got = Mpeg2Ts.demuxVideo(dup).get
    assert(got.units.length == want.units.length)
    for ((((o1, l1, t1), (o2, l2, t2)), i) <-
        got.units.zip(want.units).zipWithIndex) {
      assert(got.es.slice(o1, o1 + l1).toSeq == want.es.slice(o2, o2 + l2).toSeq,
        s"unit $i must survive the duplicate packet")
      assert(t1 == t2, s"unit $i PTS must survive the duplicate packet")
    }
  }

  test("duplicate transport packets (same continuity_counter) are discarded") {
    // §2.4.3.3 allows a packet to be sent twice; receivers must drop the
    // duplicate. Duplicate a mid-PES continuation packet of the large
    // fixture: the demuxed units must equal the pristine ones.
    val in = Mpeg2Writer.ipbfPictures(128, 64, gray = 96, delta = 20)
    val ts = Mpeg2Ts.mux(in)
    val conts = videoPackets(ts, 0x0100, wantPusi = false)
    assert(conts.nonEmpty, "fixture: some access unit spans >1 packet")
    assertDupDiscarded(ts, conts.head)
  }

  test("a duplicated PUSI packet is discarded too") {
    // the duplicate rule is per continuity_counter, not per payload
    // class: duplicating the packet that STARTS a PES must not re-open
    // (and corrupt) the PES header parse or double its payload
    val in = Mpeg2Writer.ipbfPictures(128, 64, gray = 96, delta = 20)
    val ts = Mpeg2Ts.mux(in)
    val pusis = videoPackets(ts, 0x0100, wantPusi = true)
    assert(pusis.length == in.length, "one PUSI packet per access unit")
    assertDupDiscarded(ts, pusis(1))
  }

  test("PES header spilling past the first packet is skipped, not leaked") {
    // hand-chunk one PES so the PUSI packet carries only 11 of the 14
    // header bytes (a large adaptation field squeezes the payload): the
    // 3 spilled header bytes arrive at the head of the next packet and
    // must be consumed as header, not written into the elementary stream.
    val au = aus.head
    val pes = new java.io.ByteArrayOutputStream()
    pes.write(Array[Byte](0, 0, 1, 0xe0.toByte, 0, 0))
    pes.write(0x80); pes.write(0x80); pes.write(5) // PTS-only header
    pes.write(Array[Byte](0x21, 0x00, 0x01, 0x00, 0x01)) // PTS bytes
    pes.write(au)
    val data = pes.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    var cc = 0
    def pkt(pusi: Boolean, slice: Array[Byte]): Unit = {
      val pl = new Array[Byte](188)
      pl(0) = 0x47
      pl(1) = ((if (pusi) 0x40 else 0) | 0x01).toByte // PID 0x100 high bits
      pl(2) = 0x00 // PID low byte
      val c = cc & 0xf; cc += 1
      if (slice.length >= 184) {
        pl(3) = (0x10 | c).toByte
        System.arraycopy(slice, 0, pl, 4, 184)
      } else {
        pl(3) = (0x30 | c).toByte
        val afLen = 183 - slice.length
        pl(4) = afLen.toByte
        if (afLen > 0) {
          pl(5) = 0
          for (i <- 6 until 5 + afLen) pl(i) = 0xff.toByte
        }
        System.arraycopy(slice, 0, pl, 188 - slice.length, slice.length)
      }
      out.write(pl)
    }
    // first packet: only 11 PES bytes (header spills by 3)
    pkt(pusi = true, data.take(11))
    var off = 11
    while (off < data.length) {
      val n = math.min(184, data.length - off)
      pkt(pusi = false, data.slice(off, off + n))
      off += n
    }
    val ts = out.toByteArray
    assert(Mpeg2Ts.isTransportStream(ts))
    val got = Mpeg2Ts.demuxVideo(ts).get
    assert(got.units.length == 1)
    assert(got.es.slice(got.units(0)._1,
      got.units(0)._1 + got.units(0)._2).toSeq == au.toSeq,
      "spilled header bytes must not leak into the elementary stream")
  }

  test("stream-context carry across TS access units (direct decode)") {
    val got = Mpeg2Ts.demuxVideo(Mpeg2Ts.mux(aus)).get
    var ctx: Option[Mpeg1.StreamCtx] = None
    val frames = got.units.map { case (off, len, _) =>
      val (c, f) = Mpeg1.decodeAccessUnitRef(ctx, got.es.slice(off, off + len))
      ctx = c
      f
    }
    assert(frames.forall(_.isDefined))
    assert(frames(1).get.y.forall(_ == 116), "P decodes against the TS-carried I")
  }
}
