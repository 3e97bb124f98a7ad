package graft.sources.v2

import graft.sources.ZarrReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Zarr read planner of [[CubeScan]]: the pushed extent → the chunk reads
  * of one store ([[ZarrReader.planChunks]] over the translated index
  * ranges). Axis semantics: rank 2 = (row=y, col=x); rank 3 with time
  * labels = (time, row, col), each slice carrying its label as `t` (the
  * mount checked one label per axis-0 slice); any other rank 3 = (band,
  * row, col) with `bands` = `<band>_<i>`. A constant datetime or band
  * name outside the pushed extent empties the asset without touching its
  * chunks.
  */
private[v2] object ZarrChunks {

  def plan(a: CubeSource.ZarrAsset, e: Extent): Seq[CubeRead] = {
    val meta = a.meta
    val rank = meta.shape.size
    val timeAxis = a.labelMicros.nonEmpty
    val (nr, nc) = (meta.shape(rank - 2).toLong, meta.shape(rank - 1).toLong)
    val rr = CubeScanUtil.axisRange(e.y._1, e.y._2, a.south, a.north - a.south, nr)
    val cr = CubeScanUtil.axisRange(e.x._1, e.x._2, a.west, a.east - a.west, nc)
    // constant-coordinate predicates can empty the scan outright
    val constT = !timeAxis &&
      (a.datetimeMicros < e.t._1 || a.datetimeMicros > e.t._2)
    val bandAxis = rank == 3 && !timeAxis
    val constBand = !bandAxis && e.bands.exists(!_.contains(a.band))
    if (constT || constBand) return Nil
    val axis0: Option[(Long, Long)] =
      if (rank == 2) None
      else if (timeAxis) {
        // label hull of the pushed [tLo, tHi] window
        val sel = a.labelMicros.zipWithIndex
          .filter { case (m, _) => m >= e.t._1 && m <= e.t._2 }.map(_._2)
        if (sel.isEmpty) return Nil // no slice in the window
        Some((sel.min.toLong, sel.max.toLong))
      } else e.bands match {
        // band axis: bands values are "<band>_<i>"
        case Some(names) =>
          val sel = (0 until meta.shape(0))
            .filter(i => names.contains(s"${a.band}_$i"))
          if (sel.isEmpty) return Nil // no matching band slice
          Some((sel.min.toLong, sel.max.toLong))
        case None => None
      }
    val slices = if (rank == 2) Seq(rr, cr) else Seq(axis0, rr, cr)
    val selKeys = ZarrReader.planChunks(meta, slices)
    val present = ZarrReader.presentChunks(a.path, meta, selKeys)
    val lo = Array.tabulate(rank)(d => slices(d).map(_._1).getOrElse(0L))
    val hi = Array.tabulate(rank)(d =>
      slices(d).map(_._2).getOrElse(meta.shape(d) - 1L))
    selKeys.map(k => ZarrChunkRead(a, k.toArray,
      present.contains(k), timeAxis, lo, hi))
  }
}

/** One chunk of one store: everything the executor-side reader needs. */
private[v2] final case class ZarrChunkRead(asset: CubeSource.ZarrAsset,
    key: Array[Int], isPresent: Boolean, timeAxis: Boolean,
    sliceLo: Array[Long], sliceHi: Array[Long]) extends CubeRead {

  // in-slice cells of this chunk (edge clip approximated by slice)
  override def cells: Long = asset.meta.shape.indices.map { d =>
    val c = asset.meta.chunks(d).toLong
    val lo = math.max(key(d) * c, sliceLo(d))
    val hi = math.min(key(d) * c + c - 1,
      math.min(asset.meta.shape(d) - 1L, sliceHi(d)))
    math.max(0L, hi - lo + 1)
  }.product

  override def open(columns: Array[String]): PartitionReader[InternalRow] =
    new ZarrChunkReader(this, columns)
}

/** Decodes its chunk with the [[ZarrReader]] primitives and walks it in
  * C order, clipping edge padding and the pushed slice bounds, emitting
  * cube-coordinate rows directly — the one loop that turns zarr chunk
  * bytes into rows (`ZarrReader.loadArray` is a projection over it).
  */
private[v2] class ZarrChunkReader(p: ZarrChunkRead, columns: Array[String])
    extends PartitionReader[InternalRow] {
  private val m = p.asset.meta
  private val rank = m.shape.size
  private val vals: Array[Double] =
    if (!p.isPresent) Array.fill(m.chunks.product)(m.fillValue.get)
    else {
      val raw = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.asset.path, m.keyOf(p.key.toSeq)))
      if (m.shard.isDefined) ZarrReader.decodeShard(raw, m)
      else {
        val u = ZarrReader.unpack(ZarrReader.decodeChunk(raw, m), m.dtype)
        m.transpose.fold(u)(ZarrReader.untranspose(u, m.chunks, _))
      }
    }
  private val chunkShape = m.chunks.toArray
  private val strides = {
    val s = new Array[Int](rank)
    s(rank - 1) = 1
    var d = rank - 2
    while (d >= 0) { s(d) = s(d + 1) * chunkShape(d + 1); d -= 1 }
    s
  }
  private val (nr, nc) = (m.shape(rank - 2).toLong, m.shape(rank - 1).toLong)
  private val stepX = (p.asset.east - p.asset.west) / nc
  private val stepY = (p.asset.north - p.asset.south) / nr
  private val coords = new Array[Long](rank)
  private var flat = -1
  // column opcodes + per-axis-0 band strings precomputed once; the row
  // object is REUSED across get() calls (the downstream consumer copies
  // fields into its UnsafeRow before the next advance — the standard
  // row-based-reader contract)
  private val ops: Array[Int] = CubeScanUtil.opcodes(columns)
  private val bandStrs: Array[UTF8String] =
    if (rank == 3 && !p.timeAxis)
      Array.tabulate(m.shape(0))(i =>
        UTF8String.fromString(s"${p.asset.band}_$i"))
    else Array(UTF8String.fromString(p.asset.band))
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      columns.length)

  override def next(): Boolean = {
    var ok = false
    while (!ok && flat + 1 < vals.length) {
      flat += 1
      ok = true
      var r = 0
      while (r < rank && ok) {
        val local = (flat / strides(r)) % chunkShape(r)
        val global = p.key(r).toLong * chunkShape(r) + local
        if (global >= m.shape(r) ||
          global < p.sliceLo(r) || global > p.sliceHi(r)) ok = false
        coords(r) = global
        r += 1
      }
    }
    ok
  }

  override def get(): InternalRow = {
    val (ri, ci) = if (rank == 2) (0, 1) else (1, 2)
    var i = 0
    while (i < ops.length) {
      ops(i) match {
        case 0 => row.update(i, p.asset.west + coords(ci) * stepX)
        case 1 => row.update(i, p.asset.south + coords(ri) * stepY)
        case 2 => row.update(i,
          if (p.timeAxis) p.asset.labelMicros(coords(0).toInt)
          else p.asset.datetimeMicros)
        case 3 => row.update(i,
          if (rank == 3 && !p.timeAxis) bandStrs(coords(0).toInt)
          else bandStrs(0))
        case _ => row.update(i, vals(flat))
      }
      i += 1
    }
    row
  }

  override def close(): Unit = ()
}
