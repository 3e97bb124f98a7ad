package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** apply_kernel — 2-D spatial convolution over the long-form cube
  * (reference: openeo_processes_dask/process_implementations/cubes/apply.py:131-182,
  * which wraps scipy.ndimage.convolve).
  *
  * Spark shape: explode the (tiny) kernel into offset rows, broadcast it,
  * join each cell to its shifted neighbors, and aggregate back per cell —
  * the fact side is shuffled once on the grid key for the final groupBy.
  * Missing neighbors contribute 0 ("constant" border mode); `factor` scales
  * the result (reference: apply.py:160-182).
  *
  * At scale this is the operator to tile-partition: pre-partitioning the df
  * by coarse (x,y) tiles makes the neighbor join co-located; AQE handles the
  * residual skew. For kernels over dense rasters, a mapPartitions stencil on
  * tiled layout would avoid the join entirely — kept relational here because
  * kernel size ≪ partition size in every reference use.
  */
object KernelOps {

  /** Border handling for [[applyKernelBorder]] (reference: apply.py:138-152
    * wraps scipy.ndimage.convolve's modes; names follow the openeo spec).
    */
  sealed trait BorderMode
  case object Replicate extends BorderMode     // aaaa|abcd|dddd
  case object Reflect extends BorderMode       // dcba|abcd|dcba
  case object ReflectPixel extends BorderMode  // dcb|abcd|cba  (scipy "mirror")
  case object Wrap extends BorderMode          // abcd|abcd|abcd
  final case class Constant(value: Double) extends BorderMode

  /** apply_kernel over the cube's (x, y) coordinates as given. A kernel
    * step is one coordinate unit: the cell at offset (dx, dy) is the one
    * whose coordinates are (x + dx, y + dy). So the result is a true
    * convolution only on a grid spaced 1 apart; on any other spacing
    * (a 0.1°-spaced raster, say) no neighbour matches and each cell gets
    * only its centre weight times its value (times `factor`).
    */
  def applyKernel(cube: DataCube, kernel: Seq[Seq[Double]],
      factor: Double = 1.0): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val spark = cube.df.sparkSession
    import spark.implicits._

    val kh = kernel.length
    val kw = kernel.head.length
    require(kh % 2 == 1 && kw % 2 == 1,
      "KernelDimensionsUneven: each dimension of the kernel must have an " +
        "uneven number of elements")
    val offsets = for {
      (row, j) <- kernel.zipWithIndex
      (w, i) <- row.zipWithIndex
      if w != 0.0
    } yield (i - kw / 2, j - kh / 2, w)
    val k = offsets.toDF("_dx", "_dy", "_w")

    val v = cube.meta.valueCol
    // Convolution, not cross-correlation: scipy.ndimage.convolve flips the
    // kernel (reference: apply.py:160-182), so the source cell at offset
    // (dx, dy) contributes to (x + dx, y + dy) — asymmetric kernels would
    // mirror under the (x - dx) correlation form.
    val contrib = cube.df.join(broadcast(k))
      .select((others.map(col) :+
        (col(xd) + col("_dx")).as(xd) :+
        (col(yd) + col("_dy")).as(yd) :+
        (col(v) * col("_w")).as("_c")): _*)
    // keep only cells that exist in the input grid (convolve output grid)
    val grid = cube.df.select((others.map(col) :+ col(xd) :+ col(yd)): _*).distinct()
    val out = contrib.join(grid, others :+ xd :+ yd, "left_semi")
      .groupBy((others :+ xd :+ yd).map(col): _*)
      .agg((sum(col("_c")) * factor).as(v))
    DataCube(out, cube.meta)
  }

  /** apply_kernel with explicit border semantics on a dense integer grid
    * spanning [xlo..xhi] × [ylo..yhi] (reference: apply.py:131-182 —
    * scipy.ndimage.convolve border modes). Target-centric neighbor join:
    * each output cell looks up its kernel neighbors with out-of-grid
    * coordinates REMAPPED by the border mode (pure Column arithmetic on the
    * join key), or, for `Constant`, left-joined and coalesced to the fill
    * value. The grid extent is passed by the caller — it is dimension
    * metadata, not something to rescan the fact table for.
    */
  /** Kernel offset triples (dx, dy, w) with zero weights dropped. */
  private def kernelOffsets(kernel: Seq[Seq[Double]]): Seq[(Int, Int, Double)] = {
    val kh = kernel.length; val kw = kernel.head.length
    require(kh % 2 == 1 && kw % 2 == 1,
      "KernelDimensionsUneven: each dimension of the kernel must have an " +
        "uneven number of elements")
    for {
      (row, j) <- kernel.zipWithIndex
      (w, i) <- row.zipWithIndex
      if w != 0.0
    } yield (i - kw / 2, j - kh / 2, w)
  }

  /** Border remap of an out-of-grid coordinate into [lo, hi] — pure Column
    * arithmetic shared by the join and tiled physical forms.
    */
  private def remapCol(border: BorderMode)(c: Column, lo: Long, hi: Long): Column = {
    val n = hi - lo + 1
    border match {
      case Constant(_) => c // out-of-grid neighbors handled by the caller
      case _ if n == 1 => lit(lo) // degenerate single-line axis
      case Replicate => least(greatest(c, lit(lo)), lit(hi))
      case Wrap => lit(lo) + pmod(c - lo, lit(n))
      case Reflect =>
        val m = pmod(c - lo, lit(2 * n))
        lit(lo) + when(m < n, m).otherwise(lit(2 * n - 1) - m)
      case ReflectPixel =>
        val m = pmod(c - lo, lit(2 * n - 2))
        lit(lo) + when(m < n, m).otherwise(lit(2 * n - 2) - m)
    }
  }

  def applyKernelBorder(cube: DataCube, kernel: Seq[Seq[Double]],
      border: BorderMode, factor: Double = 1.0,
      xRange: (Long, Long), yRange: (Long, Long)): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val spark = cube.df.sparkSession
    import spark.implicits._

    val k = kernelOffsets(kernel).toDF("_dx", "_dy", "_w")
    def remap(c: Column, lo: Long, hi: Long): Column = remapCol(border)(c, lo, hi)

    val v = cube.meta.valueCol
    // convolution: out(X,Y) folds in(X-dx, Y-dy) · w(dx,dy)
    val lookups = cube.df.select((others.map(col) :+ col(xd) :+ col(yd)): _*)
      .join(broadcast(k))
      .withColumn("_nx", remap(col(xd) - col("_dx"), xRange._1, xRange._2))
      .withColumn("_ny", remap(col(yd) - col("_dy"), yRange._1, yRange._2))
    val src = cube.df.select((others.map(col) :+
      col(xd).as("_nx") :+ col(yd).as("_ny") :+ col(v).as("_nv")): _*)
    val joined = border match {
      case Constant(fill) =>
        lookups.join(src, others :+ "_nx" :+ "_ny", "left_outer")
          .withColumn("_nv", coalesce(col("_nv"), lit(fill)))
      case _ => lookups.join(src, others :+ "_nx" :+ "_ny")
    }
    val out = joined
      .groupBy((others :+ xd :+ yd).map(col): _*)
      .agg((sum(col("_w") * col("_nv")) * factor).as(v))
    DataCube(out, cube.meta)
  }

  /** apply_kernel as a TILE-PARTITIONED STENCIL — the dense-raster scale
    * path. The join forms above fan the fact table out once per nonzero
    * kernel weight (a 15×15 kernel = 225× row amplification through the
    * shuffle); here every cell is shuffled ~once and the kernel runs as
    * per-tile map lookups:
    *
    *   1. '''Halo exchange, arithmetically.''' Each cell computes the ≤4
    *      (2 per axis) tiles whose halo covers it — no self-join; row
    *      amplification is (T+2h)²/T² ≈ 1 + 4h/T (≈ 3% for h=2, T=256).
    *      `Wrap` additionally mirrors cells within h of one global edge to
    *      virtual coordinates beyond the opposite edge, so periodic lookups
    *      stay tile-local.
    *   2. '''One shuffle.''' groupBy (other dims, tile) collects the tile's
    *      cells — memory is one (T+2h)² tile, never a raster.
    *   3. '''Stencil as ONE bounded imperative per-tile kernel.''' A single
    *      UDF scatters the tile's cells into a dense (T+2hx)·(T+2hy)
    *      halo-window array (local-offset indexed) and convolves the
    *      interior with O(1) array probes — O(cells·k) per tile, the
    *      sanctioned per-partition-imperative escape hatch. This replaced
    *      the original `transform`-HOF-over-lookup-MAP form: Catalyst's
    *      `element_at` on a map is a LINEAR SCAN of the keys (interpreted
    *      and codegen'd both — GetMapValueUtil/complexTypeExtractors), so
    *      map probes cost O(tile cells) EACH and the stencil went
    *      quadratic per tile — invisible on the driver queries' small
    *      cubes, found by the r11 raster stress at a 1M-cell grid
    *      (500×500×4, T=256 ⇒ 68k-entry maps): >15 min there, ~2 s as the
    *      imperative kernel. (HOF lambdas are interpreted per element
    *      besides — the old "codegen-able map probes" claim was wrong on
    *      both counts.) A null-valued cell scatters as absent — exactly
    *      the map form's null-entry lookup semantics.
    *
    * Semantics are IDENTICAL to [[applyKernelBorder]] (spec'd cell-for-cell,
    * all five modes): missing in-grid neighbors contribute the fill under
    * `Constant`, are skipped otherwise, and a cell with zero found neighbors
    * is absent from the output under the non-constant modes.
    */
  def applyKernelTiled(cube: DataCube, kernel: Seq[Seq[Double]],
      border: BorderMode, factor: Double = 1.0,
      xRange: (Long, Long), yRange: (Long, Long),
      tileSize: Int = 256): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)

    val offsets = kernelOffsets(kernel)
    val hx = kernel.head.length / 2; val hy = kernel.length / 2
    require(2 * hx < tileSize && 2 * hy < tileSize,
      s"kernel halo ($hx,$hy) must be < tileSize/2=$tileSize/2")
    val (xlo, xhi) = xRange; val (ylo, yhi) = yRange
    val nX = xhi - xlo + 1; val nY = yhi - ylo + 1
    require(Seq(xlo, xhi, ylo, yhi).forall(c => math.abs(c) < (1L << 30)),
      "tiled stencil packs (x,y) into one long: coords must fit 31 bits")
    if (border == Wrap)
      require(hx < nX && hy < nY,
        "Wrap tiling mirrors one period: kernel reach must be < grid extent")
    val T = tileSize.toLong
    val v = cube.meta.valueCol

    def fdiv(c: Column): Column = ((c - pmod(c, lit(T))) / T).cast("long")

    // wrap halos: a cell within h of one global edge reappears one period
    // beyond the opposite edge (virtual coords are always outside [lo,hi],
    // so they can never masquerade as interior cells)
    def virt(c: Column, lo: Long, hi: Long, n: Long, h: Int): Column = {
      val base = array(c)
      if (border != Wrap || h == 0) base
      else concat(base,
        when(c - lo < h, array(c + n)).otherwise(array().cast("array<long>")),
        when(lit(hi) - c < h, array(c - n)).otherwise(array().cast("array<long>")))
    }

    val halo = cube.df
      .withColumn("_vx", explode(virt(col(xd).cast("long"), xlo, xhi, nX, hx)))
      .withColumn("_vy", explode(virt(col(yd).cast("long"), ylo, yhi, nY, hy)))
      // the (≤2 per axis) tiles whose [tT-h, (t+1)T-1+h] halo covers the cell
      .withColumn("_tx", explode(array_distinct(
        array(fdiv(col("_vx") - hx), fdiv(col("_vx") + hx)))))
      .withColumn("_ty", explode(array_distinct(
        array(fdiv(col("_vy") - hy), fdiv(col("_vy") + hy)))))
      .filter(col("_tx").between(Math.floorDiv(xlo, T), Math.floorDiv(xhi, T)) &&
        col("_ty").between(Math.floorDiv(ylo, T), Math.floorDiv(yhi, T)))

    // Per-tile stencil as ONE bounded imperative kernel (the sanctioned
    // per-partition-imperative escape hatch): scatter the tile's cells into
    // a dense (T+2hx)x(T+2hy) halo-window array indexed by local offset,
    // then convolve the interior imperatively — O(cells·k) with O(1) array
    // probes. Every assigned cell lies inside its tile's window by
    // construction of the halo tile assignment, and every probe target
    // does too (interior cells reach at most h beyond the tile; the remap
    // modes stay within the global [lo, hi], which the edge tile's window
    // covers) — the in-range guards are belt-and-braces. A null cell
    // scatters as absent. The offset fold order and the `* factor` position
    // mirror the former Column form exactly, so results stay bit-identical
    // to the join form (spec-pinned, all five border modes).
    val W = (T + 2 * hx).toInt; val H = (T + 2 * hy).toInt
    val hxL = hx.toLong; val hyL = hy.toLong
    val fillVal = border match { case Constant(f) => f; case _ => 0.0 }
    val emitAll = border match { case Constant(_) => true; case _ => false }
    val noRemap = border match { case Constant(_) | Wrap => true; case _ => false }
    val offs: Array[(Int, Int, Double)] = offsets.toArray
    // long-domain twin of remapCol (shared semantics, spec-pinned equal)
    def remapL(c: Long, lo: Long, hi: Long): Long = {
      val n = hi - lo + 1
      border match {
        case Constant(_) => c
        case _ if n == 1 => lo
        case Replicate => math.min(math.max(c, lo), hi)
        case Wrap => lo + math.floorMod(c - lo, n)
        case Reflect =>
          val m = math.floorMod(c - lo, 2 * n)
          lo + (if (m < n) m else 2 * n - 1 - m)
        case ReflectPixel =>
          val m = math.floorMod(c - lo, 2 * n - 2)
          lo + (if (m < n) m else 2 * n - 2 - m)
      }
    }
    val stencil = udf((xsIn: Seq[Long], ysIn: Seq[Long], vsIn: Seq[Double],
        presentIn: Seq[Boolean], tx: Long, ty: Long) => {
      // Spark may hand these in as immutable Lists — index through arrays
      // or every xs(i) is an O(n) drop and both loops go quadratic
      // (measured: 200 s vs 3 s on a 68k-cell tile)
      val xs = xsIn.toArray; val ys = ysIn.toArray
      val vs = vsIn.toArray; val present = presentIn.toArray
      val x0 = tx * T - hxL; val y0 = ty * T - hyL
      val arr = new Array[Double](W * H)
      val has = new Array[Boolean](W * H)
      var i = 0
      while (i < xs.length) {
        if (present(i)) {
          val ix = (xs(i) - x0).toInt; val iy = (ys(i) - y0).toInt
          if (ix >= 0 && ix < W && iy >= 0 && iy < H) {
            arr(ix + iy * W) = vs(i); has(ix + iy * W) = true
          }
        }
        i += 1
      }
      // interior = this tile's own in-grid cells (halo copies and Wrap
      // virtual coordinates belong to another tile's interior)
      val loX = math.max(xlo, tx * T); val hiX = math.min(xhi, tx * T + T - 1)
      val loY = math.max(ylo, ty * T); val hiY = math.min(yhi, ty * T + T - 1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      i = 0
      while (i < xs.length) {
        val cx = xs(i); val cy = ys(i)
        if (cx >= loX && cx <= hiX && cy >= loY && cy <= hiY) {
          var s = 0.0; var found = 0; var j = 0
          while (j < offs.length) {
            val (dx, dy, w) = offs(j)
            var lx = cx - dx; var ly = cy - dy
            if (!noRemap) { lx = remapL(lx, xlo, xhi); ly = remapL(ly, ylo, yhi) }
            val ix = (lx - x0).toInt; val iy = (ly - y0).toInt
            val in = ix >= 0 && ix < W && iy >= 0 && iy < H && has(ix + iy * W)
            s += (if (in) { found += 1; arr(ix + iy * W) } else fillVal) * w
            j += 1
          }
          if (emitAll || found > 0) out += ((cx, cy, s * factor))
        }
        i += 1
      }
      out.toSeq
    })

    val tiles = halo
      .groupBy((others.map(col) :+ col("_tx") :+ col("_ty")): _*)
      .agg(collect_list(struct(col("_vx").as("cx"), col("_vy").as("cy"),
        col(v).cast("double").as("cv"))).as("_cells"))

    val out = tiles.select((others.map(col) :+ explode(stencil(
        transform(col("_cells"), c => c.getField("cx")),
        transform(col("_cells"), c => c.getField("cy")),
        transform(col("_cells"), c => coalesce(c.getField("cv"), lit(0.0))),
        transform(col("_cells"), c => c.getField("cv").isNotNull),
        col("_tx"), col("_ty"))).as("_o")): _*)
      .select((others.map(col) :+
        col("_o").getField("_1").as(xd) :+
        col("_o").getField("_2").as(yd) :+
        col("_o").getField("_3").as(v)): _*)
    DataCube(out, cube.meta)
  }
}
