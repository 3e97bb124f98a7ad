package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** Pushed x/y/t/bands predicates as inclusive, conservative bounds. */
private[v2] final case class Extent(x: (Double, Double), y: (Double, Double),
    t: (Long, Long), bands: Option[Set[String]])

/** The pushdown translation of [[CubeSource]]: pushed x/y/t/bands
  * predicates accumulate into inclusive, conservative extent bounds, ONE
  * definition for every asset format — the strict-bound ±1 µs t
  * arithmetic and the band-set intersection are exactly the kind of
  * subtlety that silently diverges when hand-copied per format.
  *
  * Bounds are INCLUSIVE and conservative (strict comparisons widen to
  * non-strict where they cannot be exact): pruning may keep an extra
  * boundary chunk/segment, never drop a matching one — every filter
  * stays residual, so Spark re-applies exactness either way.
  */
private[v2] class CubeExtentScanBuilder(assets: Seq[CubeSource.Asset])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  import CubeSource.{toDouble, toMicros, Schema}

  private var xLo, yLo: Double = Double.NegativeInfinity
  private var xHi, yHi: Double = Double.PositiveInfinity
  private var tLo: Long = Long.MinValue
  private var tHi: Long = Long.MaxValue
  private var bandSel: Option[Set[String]] = None
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = Schema

  private def acceptOne(f: Filter): Boolean = f match {
    case GreaterThan("x", v) => toDouble(v).exists { d => xLo = math.max(xLo, d); true }
    case GreaterThanOrEqual("x", v) => toDouble(v).exists { d => xLo = math.max(xLo, d); true }
    case LessThan("x", v) => toDouble(v).exists { d => xHi = math.min(xHi, d); true }
    case LessThanOrEqual("x", v) => toDouble(v).exists { d => xHi = math.min(xHi, d); true }
    case EqualTo("x", v) => toDouble(v).exists { d => xLo = math.max(xLo, d); xHi = math.min(xHi, d); true }
    case GreaterThan("y", v) => toDouble(v).exists { d => yLo = math.max(yLo, d); true }
    case GreaterThanOrEqual("y", v) => toDouble(v).exists { d => yLo = math.max(yLo, d); true }
    case LessThan("y", v) => toDouble(v).exists { d => yHi = math.min(yHi, d); true }
    case LessThanOrEqual("y", v) => toDouble(v).exists { d => yHi = math.min(yHi, d); true }
    case EqualTo("y", v) => toDouble(v).exists { d => yLo = math.max(yLo, d); yHi = math.min(yHi, d); true }
    // micros are integral, so strict bounds tighten EXACTLY by one µs —
    // a half-open [start, end) window excludes the end-label's chunk
    case GreaterThan("t", v) => toMicros(v).exists { m => tLo = math.max(tLo, m + 1); true }
    case GreaterThanOrEqual("t", v) => toMicros(v).exists { m => tLo = math.max(tLo, m); true }
    case LessThan("t", v) => toMicros(v).exists { m => tHi = math.min(tHi, m - 1); true }
    case LessThanOrEqual("t", v) => toMicros(v).exists { m => tHi = math.min(tHi, m); true }
    case EqualTo("t", v) => toMicros(v).exists { m => tLo = math.max(tLo, m); tHi = math.min(tHi, m); true }
    case EqualTo("bands", v: String) =>
      bandSel = Some(bandSel.getOrElse(Set(v)).intersect(Set(v))); true
    case In("bands", vs) if vs.forall(_.isInstanceOf[String]) =>
      val s = vs.map(_.asInstanceOf[String]).toSet
      bandSel = Some(bandSel.fold(s)(_.intersect(s))); true
    case IsNotNull("x" | "y" | "t" | "bands" | "value") => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(acceptOne)
    filters // ALL filters stay residual: pruning is advisory, exactness is Spark's
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new CubeScan(assets, required,
    Extent((xLo, xHi), (yLo, yHi), (tLo, tHi), bandSel))
}

/** One scan over every asset of a load. Planning asks each mounted asset
  * for its chunk or strip/tile reads under the pushed extent
  * ([[ZarrChunks.plan]], [[TiffSegments.plan]]), then packs the reads
  * into partitions by Spark's file-scan rule ([[CubeScanUtil.pack]]): a
  * 40-read raster runs as about one task per core instead of 40, while a
  * large store still gets at least one partition per core, each capped
  * at `spark.sql.files.maxPartitionBytes`.
  */
private[v2] class CubeScan(assets: Seq[CubeSource.Asset],
    required: StructType, extent: Extent)
    extends Scan with Batch with SupportsReportStatistics {

  // built by the optimizer's pushdown rule, inside the query's active
  // session: its file-scan confs and parallelism size the partitions
  private val session = SparkSession.active

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Planned once per Scan, failure included: the optimizer probes
    * estimateStatistics and execution calls planInputPartitions on the
    * same instance — without the cache each probe re-walks the whole
    * chunk directory (seconds of driver I/O on a 10⁵-chunk archive). The
    * headers are not read here at all: each asset carries the one parsed
    * at mount. A store that fails to plan is not planned again:
    * planInputPartitions rethrows the one failure.
    */
  private lazy val reads: Try[Array[CubeRead]] =
    Try(assets.flatMap(_.plan(extent)).toArray)

  private lazy val partitions: Array[InputPartition] =
    CubeScanUtil.pack(session, reads.get).map(rs =>
      PackedPartition(rs, required.fieldNames): InputPartition)

  /** Post-pruning row estimate from the planned cell count — what lets
    * Catalyst BROADCAST a small-extent cube side of a join instead of
    * shuffling the big side (the join-planning payoff of pushdown).
    */
  override def estimateStatistics(): Statistics =
    CubeScanUtil.statsOf(reads.fold(_ => -1L, _.map(_.cells).sum), required.size)

  /** `reads=` is the planned chunk/segment count — what the pruning specs
    * assert, since packing decouples it from the partition count.
    */
  override def description(): String = {
    val n = reads.fold(_ => "?", _.length.toString)
    s"CubeScan assets=${assets.size} reads=$n " +
      CubeScanUtil.describeExtent(extent)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    PackedReaderFactory
}

/** One planned chunk or strip/tile read of one asset. */
private[v2] trait CubeRead extends Serializable {

  /** Cells this read emits after edge and slice clipping: its share of
    * the scan's row estimate and, at 8 bytes a cell, its packing weight.
    */
  def cells: Long

  /** Decode the read and walk its cells as rows of `columns`. */
  def open(columns: Array[String]): PartitionReader[InternalRow]
}

/** A run of reads one task decodes in turn. */
private[v2] final case class PackedPartition(reads: Array[CubeRead],
    columns: Array[String]) extends InputPartition

private[v2] object PackedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PackedReader(p.asInstanceOf[PackedPartition])
}

/** Chains the partition's reads, opening (and so decoding) each only when
  * the previous one is drained: one read's cells are held at a time.
  */
private[v2] class PackedReader(p: PackedPartition)
    extends PartitionReader[InternalRow] {
  private var nextRead = 0
  private var current: PartitionReader[InternalRow] = null

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      close()
      if (nextRead == p.reads.length) return false
      current = p.reads(nextRead).open(p.columns)
      nextRead += 1
    }
    true
  }

  override def get(): InternalRow = current.get()

  override def close(): Unit = if (current != null) {
    current.close()
    current = null
  }
}

/** Geometry, statistics and packing helpers shared by the format planners. */
private[v2] object CubeScanUtil {

  /** Coordinate bound → inclusive cell-index range. Cells are POINT
    * samples at `origin + i·step`, so the exact translation is
    * ceil/floor; one guard cell each way absorbs float edges, and the
    * residual filter trims the overshoot.
    */
  def axisRange(lo: Double, hi: Double, origin: Double,
      span: Double, nCells: Long): Option[(Long, Long)] = {
    if (lo.isNegInfinity && hi.isPosInfinity) return None
    if (span <= 0 || nCells <= 0) return None
    val step = span / nCells
    val a =
      if (lo.isNegInfinity) 0L
      else math.max(0L, math.ceil((lo - origin) / step).toLong - 1)
    val b =
      if (hi.isPosInfinity) nCells - 1
      else math.min(nCells - 1, math.floor((hi - origin) / step).toLong + 1)
    Some((a, b)) // a > b = empty: the planner plans nothing
  }

  /** Spark's file-scan packing rule applied to planned reads. Each read
    * weighs its decoded bytes (cells × 8) plus
    * `spark.sql.files.openCostInBytes`; the split target is
    * [[FilePartition.maxSplitBytes]] over the total weight —
    * `min(maxPartitionBytes, max(openCost, total / leafNodeDefaultParallelism))`
    * — and reads fill partitions next-fit, as `getFilePartitions` fills
    * file splits. Unlike file splits the reads are not sorted by size:
    * planned order keeps one asset's neighbouring chunks in one task and
    * the scan's row order independent of the packing.
    */
  def pack(spark: SparkSession, reads: Array[CubeRead]): Array[Array[CubeRead]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val bytes = reads.map(_.cells * 8L)
    val target = FilePartition.maxSplitBytes(spark,
      bytes.iterator.map(_ + openCost).sum)
    val parts = ArrayBuffer.empty[Array[CubeRead]]
    val current = ArrayBuffer.empty[CubeRead]
    var size = 0L
    for ((r, b) <- reads.zip(bytes)) {
      if (current.nonEmpty && size + b > target) {
        parts += current.toArray
        current.clear()
        size = 0L
      }
      current += r
      size += b + openCost
    }
    if (current.nonEmpty) parts += current.toArray
    parts.toArray
  }

  /** Post-pruning statistics from a planned row estimate (−1 = unknown). */
  def statsOf(rows: Long, nFields: Int): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong =
      if (rows < 0) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(rows)
    override def sizeInBytes(): java.util.OptionalLong =
      if (rows < 0) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(rows * 8L * (nFields + 1))
  }

  /** Human-readable pushed-extent summary for `description()` — what the
    * plan-audit specs grep for in `.explain` output.
    */
  def describeExtent(e: Extent): String = {
    val ext = Seq(
      if (e.x._1.isNegInfinity && e.x._2.isPosInfinity) None
      else Some(s"x∈[${e.x._1},${e.x._2}]"),
      if (e.y._1.isNegInfinity && e.y._2.isPosInfinity) None
      else Some(s"y∈[${e.y._1},${e.y._2}]"),
      if (e.t._1 == Long.MinValue && e.t._2 == Long.MaxValue) None
      else Some(s"t∈[${e.t._1},${e.t._2}]µs"),
      e.bands.map(s => s"bands∈{${s.mkString(",")}}")).flatten
    "PushedExtent: " + (if (ext.isEmpty) "(full)" else ext.mkString(", "))
  }

  /** Output column names → the readers' per-column opcodes
    * (x, y, t, bands, value = 0..4), resolved once per read.
    */
  def opcodes(columns: Array[String]): Array[Int] = columns.map {
    case "x" => 0
    case "y" => 1
    case "t" => 2
    case "bands" => 3
    case "value" => 4
    case other => throw new IllegalArgumentException(
      s"CubeSource: unknown column $other")
  }
}
