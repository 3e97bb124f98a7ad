package graft.sources.v2

import graft.sources.TiffReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** GeoTIFF/COG read planner of [[CubeScan]]: pushed x/y predicates →
  * the strip/tile reads of one file ([[TiffReader.planSegments]]), so a
  * small-bbox filter applied AFTER `load_stac` seeks only its own strips
  * of a huge COG.
  *
  * Band semantics mirror the loader: single-sample rasters carry the
  * asset band name; multi-sample rasters expose `<band>_<i>` per sample.
  * A pushed `bands` predicate empties the asset on a name mismatch
  * (single-band) and prunes whole segments on PLANAR rasters, whose
  * band-major segment table makes per-band selection a segment subset;
  * chunky interleave keeps all segments (samples interleave within one
  * strip) and relies on the residual. The asset's header is the IFD of
  * the overview level it was mounted at (0 = full resolution).
  */
private[v2] object TiffSegments {

  def plan(a: CubeSource.TiffAsset, e: Extent): Seq[CubeRead] = {
    val meta = a.meta
    if (a.datetimeMicros < e.t._1 || a.datetimeMicros > e.t._2)
      return Nil // constant t outside the pushed window
    val multi = meta.samplesPerPixel > 1
    if (!multi && e.bands.exists(!_.contains(a.band)))
      return Nil // single band, name mismatch
    val rr = CubeScanUtil.axisRange(e.y._1, e.y._2, a.south, a.north - a.south,
      meta.height.toLong)
    val cr = CubeScanUtil.axisRange(e.x._1, e.x._2, a.west, a.east - a.west,
      meta.width.toLong)
    var segs = TiffReader.planSegments(meta, rr, cr)
    // planar rasters: the band-major segment table lets a bands
    // predicate drop whole segments
    if (multi && meta.planar) e.bands.foreach { names =>
      val spp = meta.samplesPerPixel
      val perBand = meta.segments.size / spp
      val keep = (0 until spp)
        .filter(i => names.contains(s"${a.band}_$i")).toSet
      segs = segs.filter(s => keep.contains(s.index / perBand))
    }
    if (multi && e.bands.exists(n =>
      (0 until meta.samplesPerPixel).forall(i => !n.contains(s"${a.band}_$i"))))
      return Nil
    val lo = Array(rr.map(_._1).getOrElse(0L), cr.map(_._1).getOrElse(0L))
    val hi = Array(rr.map(_._2).getOrElse(meta.height - 1L),
      cr.map(_._2).getOrElse(meta.width - 1L))
    segs.map(s => TiffSegmentRead(a, s, lo, hi))
  }
}

/** One strip/tile of one file: everything the executor-side reader needs. */
private[v2] final case class TiffSegmentRead(asset: CubeSource.TiffAsset,
    seg: TiffReader.Segment, sliceLo: Array[Long], sliceHi: Array[Long])
    extends CubeRead {

  // the segment's in-slice pixel footprint × samples per pixel
  override def cells: Long = {
    val m = asset.meta
    val within =
      if (m.planar) seg.index % (m.segments.size / m.samplesPerPixel)
      else seg.index
    val r0 = (within / m.tilesAcross).toLong * m.tileHeight
    val c0 = (within % m.tilesAcross).toLong * m.tileWidth
    val rN = math.max(0L, math.min(r0 + m.tileHeight - 1,
      math.min(m.height - 1L, sliceHi(0))) - math.max(r0, sliceLo(0)) + 1)
    val cN = math.max(0L, math.min(c0 + m.tileWidth - 1,
      math.min(m.width - 1L, sliceHi(1))) - math.max(c0, sliceLo(1)) + 1)
    rN * cN * (if (m.planar) 1 else m.samplesPerPixel)
  }

  override def open(columns: Array[String]): PartitionReader[InternalRow] =
    new TiffSegmentReader(this, columns)
}

/** Decodes ONE strip/tile (seeking only its bytes) and walks its samples,
  * clipping edge padding and the pushed row/col bounds, emitting
  * cube-coordinate rows directly — the one loop that turns TIFF segment
  * bytes into rows (`TiffReader.loadArray` is a projection over it).
  */
private[v2] class TiffSegmentReader(p: TiffSegmentRead, columns: Array[String])
    extends PartitionReader[InternalRow] {
  private val m = p.asset.meta
  private val vals: Array[Double] = {
    val raf = new java.io.RandomAccessFile(p.asset.path, "r")
    try {
      val raw = new Array[Byte](p.seg.byteCount.toInt)
      raf.seek(p.seg.offset)
      raf.readFully(raw)
      TiffReader.unpack(raw, m)
    } finally raf.close()
  }
  private val spp = m.samplesPerPixel
  private val segsPerBand = if (m.planar) m.segments.size / spp else m.segments.size
  private val (planarBand, within) =
    if (m.planar) (p.seg.index / segsPerBand, p.seg.index % segsPerBand)
    else (0, p.seg.index)
  private val perPixel = if (m.planar) 1 else spp
  private val baseR = (within / m.tilesAcross).toLong * m.tileHeight
  private val baseC = (within % m.tilesAcross).toLong * m.tileWidth
  private val stepX = (p.asset.east - p.asset.west) / m.width
  private val stepY = (p.asset.north - p.asset.south) / m.height
  private var flat = -1
  private var r, c = 0L
  private var band = 0
  // opcodes + band strings precomputed; row object reused (see
  // ZarrChunkReader — the consumer copies before the next advance)
  private val ops: Array[Int] = CubeScanUtil.opcodes(columns)
  private val bandStrs: Array[UTF8String] =
    if (spp > 1) Array.tabulate(spp)(i =>
      UTF8String.fromString(s"${p.asset.band}_$i"))
    else Array(UTF8String.fromString(p.asset.band))
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      columns.length)

  override def next(): Boolean = {
    var ok = false
    while (!ok && flat + 1 < vals.length) {
      flat += 1
      val pixel = flat / perPixel
      band = if (m.planar) planarBand else flat % spp
      r = baseR + pixel / m.tileWidth
      c = baseC + pixel % m.tileWidth
      ok = r < m.height && c < m.width &&
        r >= p.sliceLo(0) && r <= p.sliceHi(0) &&
        c >= p.sliceLo(1) && c <= p.sliceHi(1)
    }
    ok
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < ops.length) {
      ops(i) match {
        case 0 => row.update(i, p.asset.west + c * stepX)
        case 1 => row.update(i, p.asset.south + r * stepY)
        case 2 => row.update(i, p.asset.datetimeMicros)
        case 3 => row.update(i, if (spp > 1) bandStrs(band) else bandStrs(0))
        case _ => row.update(i, vals(flat))
      }
      i += 1
    }
    row
  }

  override def close(): Unit = ()
}
