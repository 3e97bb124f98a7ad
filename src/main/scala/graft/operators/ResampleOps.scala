package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Resampling operators
  * (reference: openeo_processes_dask/process_implementations/cubes/resample.py).
  */
object ResampleOps {

  /** resample_cube_temporal: for every target timestamp pick the value at
    * the nearest source timestamp LABEL — first (earliest) on ties; labels
    * farther than `validWithin` days yield null
    * (reference: cubes/resample.py:183-222).
    *
    * The nearest-label choice is made over the dim's DISTINCT label set — a
    * |labels| × |targets| problem, matching the reference's coordinate-level
    * reindex — and the fact table then equi-joins the chosen labels once.
    * The earlier formulation crossed every fact row with every target (a
    * T-fold row blowup before rank-1); this one never fans the fact side.
    */
  def resampleCubeTemporal(cube: DataCube, targetTimes: Seq[java.sql.Timestamp],
      dimension: Option[String] = None,
      validWithinDays: Option[Double] = None): DataCube = {
    val dim = dimension.getOrElse(cube.temporalDim)
    cube.requireDim(dim)
    val spark = cube.df.sparkSession
    import spark.implicits._
    val others = cube.meta.dimNames.filterNot(_ == dim)
    val v = cube.meta.valueCol

    val targets = targetTimes.toDF("_target")
    val labels = cube.df.select(col(dim)).distinct()
    val dist = abs(col(dim).cast("double") - col("_target").cast("double"))
    val w = Window.partitionBy(col("_target"))
      .orderBy(dist.asc, col(dim).asc) // nearest, earliest-first on ties
    val mappingAll = labels.join(broadcast(targets))
      .withColumn("_dist", dist)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("_target"), col(dim), col("_dist"))
    val mapping = validWithinDays match {
      case Some(d) => mappingAll.withColumn("_invalid", col("_dist") > d * 86400.0)
      case None => mappingAll.withColumn("_invalid", lit(false))
    }
    // every series × every target, with the cell at the chosen label (null
    // when that cell is missing in the series — the reference's reindex NaN)
    val series = cube.df.select(others.map(col): _*).distinct()
    val grid = series.crossJoin(broadcast(mapping))
    val joined = grid.join(cube.df, others :+ dim, "left_outer")
      .withColumn(v, when(col("_invalid"), lit(null)).otherwise(col(v)))
    DataCube(
      joined.select((others.map(col) :+ col("_target").as(dim) :+ col(v)): _*),
      cube.meta)
  }

  /** resolution-domain method dispatch — the method-name surface that both
    * `resample_spatial` (graph node) and `load_stac`'s `resampling` argument
    * accept (reference: cubes/resample.py:23-36 for the names,
    * cubes/load.py:94-109 for the loader args).
    */
  def resampleByMethod(cube: DataCube, xRes: Double, yRes: Double,
      method: String): DataCube = {
    import graft.functions.Reducers
    method match {
      case "near" => resampleSpatialNear(cube, xRes, yRes)
      case "mode" => resampleSpatialMode(cube, xRes, yRes)
      case "average" => resampleSpatialAgg(cube, xRes, yRes, v => Reducers.meanR(v))
      case "sum" => resampleSpatialAgg(cube, xRes, yRes, v => Reducers.sumR(v))
      case "max" => resampleSpatialAgg(cube, xRes, yRes, v => Reducers.maxR(v))
      case "min" => resampleSpatialAgg(cube, xRes, yRes, v => Reducers.minR(v))
      case "med" => resampleSpatialAgg(cube, xRes, yRes, v => Reducers.medianR(v))
      case "q1" => resampleSpatialAgg(cube, xRes, yRes,
        v => element_at(Reducers.quantilesR(v, Seq(0.25)), 1))
      case "q3" => resampleSpatialAgg(cube, xRes, yRes,
        v => element_at(Reducers.quantilesR(v, Seq(0.75)), 1))
      case m => throw new IllegalArgumentException(s"resample method $m")
    }
  }

  /** resample_spatial, method="bilinear": interpolate each target point
    * from its 2×2 surrounding source cells with the standard bilinear
    * weights (reference: cubes/resample.py:23-36 lists the method; the
    * reference delegates to odc.reproject). The (tiny) target list explodes
    * to 4 corner lookups each and broadcast-joins the source grid — the
    * grid never shuffles. A target with any missing corner yields null.
    * The 4-term weighted sum is written as a fixed-order expression so the
    * result is bit-deterministic.
    */
  def resampleSpatialBilinear(cube: DataCube,
      targets: Seq[(Double, Double)]): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val spark = cube.df.sparkSession
    import spark.implicits._

    val corners = for {
      (tx, ty) <- targets
      dx <- 0 to 1
      dy <- 0 to 1
    } yield (tx, ty, math.floor(tx) + dx, math.floor(ty) + dy,
      (1 - math.abs(tx - (math.floor(tx) + dx))) *
        (1 - math.abs(ty - (math.floor(ty) + dy))),
      dx * 2 + dy)
    val c = corners.toDF("_tx", "_ty", "_sx", "_sy", "_w", "_corner")

    val joined = cube.df.join(broadcast(c),
      col(xd) === col("_sx") && col(yd) === col("_sy"))
      .withColumn("_wv", col("_w") * cube.value)
    val p = joined
      .groupBy((col("_tx") +: col("_ty") +: others.map(col)): _*)
      .agg(
        max(when(col("_corner") === 0, col("_wv"))).as("_w0"),
        max(when(col("_corner") === 1, col("_wv"))).as("_w1"),
        max(when(col("_corner") === 2, col("_wv"))).as("_w2"),
        max(when(col("_corner") === 3, col("_wv"))).as("_w3"))
    val out = p.select((col("_tx").as(xd) +: col("_ty").as(yd) +:
      others.map(col) :+
      (col("_w0") + col("_w1") + col("_w2") + col("_w3"))
        .as(cube.meta.valueCol)): _*)
    DataCube(out, cube.meta)
  }

  /** resample_spatial's `projection` argument — the raster warp
    * (reference: cubes/resample.py:39-113, where `projection` goes through
    * odc-geo/GDAL): transform every cell's (x, y) from the cube's CRS into
    * `targetCrs` via the [[graft.geo.Crs]] registry (4326/3857/arbitrary
    * Transverse Mercator). A pure per-row coordinate map — scan-speed,
    * no shuffle, embarrassingly parallel; the deterministic scalar UDF is
    * the Snyder series, which has no Column-function equivalent. Compose
    * with the resolution-domain methods ([[resampleSpatialAgg]],
    * [[resampleSpatialBilinear]], ...) to re-grid in the target CRS:
    * warp = coordinate transform + existing grid binning/kernels.
    */
  def warpCube(cube: DataCube, targetCrs: String,
      sourceCrs: Option[String] = None): DataCube = {
    import graft.geo.Crs
    val from = Crs.parse(sourceCrs.orElse(cube.meta.crs).getOrElse(
      throw new IllegalArgumentException("CrsMissing: cube has no CRS")))
    val to = Crs.parse(targetCrs)
    if (from == to) return cube
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val fn = udf((x: Double, y: Double) => {
      val (tx, ty) = Crs.transform(from, to, x, y)
      Array(tx, ty)
    })
    val out = cube.df
      .withColumn("_w", fn(col(xd).cast("double"), col(yd).cast("double")))
      .withColumn(xd, element_at(col("_w"), 1))
      .withColumn(yd, element_at(col("_w"), 2))
      .drop("_w")
    DataCube(out, cube.meta.copy(crs = Some(targetCrs)))
  }

  /** resample_spatial for aggregating methods (average/min/max/med/q1/q3/
    * mode/sum) at a coarser resolution: pure grid binning —
    * `groupBy(floor(x/res), floor(y/res))`, one shuffle, no custom code
    * (reference: cubes/resample.py:39-113; methods list resample.py:23-36).
    * Interpolating methods (bilinear/cubic/lanczos) are separate
    * neighbor-join kernels (KernelOps).
    */
  def resampleSpatialAgg(cube: DataCube, xRes: Double, yRes: Double,
      reducer: Column => Column): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val out = cube.df
      .withColumn("_bx", floor(col(xd) / xRes) * xRes)
      .withColumn("_by", floor(col(yd) / yRes) * yRes)
      .groupBy((col("_bx").alias(xd) +: col("_by").alias(yd) +: others.map(col)): _*)
      .agg(reducer(cube.value).as(cube.meta.valueCol))
    DataCube(out, cube.meta)
  }

  /** resample_spatial method="near" (the openeo DEFAULT method) in the
    * resolution domain: the target cell takes the value of the source cell
    * nearest its bin center, ties broken deterministically toward the
    * smaller (x, y, value). Same single-shuffle binning shape as
    * [[resampleSpatialAgg]] — `min_by` over a comparison struct is one
    * combinable aggregate, no rank window over fact rows. (Nulls excluded
    * from candidacy: a null cell can't be "the nearest value".)
    */
  def resampleSpatialNear(cube: DataCube, xRes: Double, yRes: Double): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val v = cube.meta.valueCol
    val withBins = cube.df
      .filter(cube.value.isNotNull)
      .withColumn("_bx", floor(col(xd) / xRes) * xRes)
      .withColumn("_by", floor(col(yd) / yRes) * yRes)
      .withColumn("_d",
        (col(xd) - (col("_bx") + xRes / 2)) * (col(xd) - (col("_bx") + xRes / 2)) +
          (col(yd) - (col("_by") + yRes / 2)) * (col(yd) - (col("_by") + yRes / 2)))
      .withColumn("_tie", struct(col("_d"), col(xd), col(yd), cube.value))
    val out = withBins
      .groupBy((col("_bx").alias(xd) +: col("_by").alias(yd) +: others.map(col)): _*)
      .agg(min_by(cube.value, col("_tie")).as(v))
    DataCube(out, cube.meta)
  }

  /** Per-axis bilinear bracketing map: for every target coordinate, its one
    * or two bracketing source coordinates with interpolation weights.
    * Both inputs are DISTINCT coordinate sets — dimension metadata — and the
    * bracketing is a SORTED UNION + running window (last source seen), so
    * the cost is O((n+m)·log) rather than the O(n·m) a coordinate crossJoin
    * pays (a 100k-line axis pair would be 10¹⁰ intermediate rows there).
    * The single-partition window sort is fine at metadata scale; fact rows
    * never enter this map. Edge targets clamp to the nearest source line
    * (weight 1).
    */
  /** Sorted-union bracketing of one coordinate axis: for every probe value
    * p, the greatest reference ≤ p (`r0`, references win ties) and the
    * least reference > p (`r1`) — O((n+m)·log) via a running window over
    * the union, instead of the O(n·m) coordinate crossJoin. Inputs are
    * single-column frames (`p` / `r`) of DISTINCT axis coordinates —
    * dimension metadata, so the single-partition window sort is cheap and
    * fact rows never enter.
    */
  private[operators] def axisBrackets(probes: org.apache.spark.sql.DataFrame,
      refs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val u = refs.select(col("r").as("v"), lit(1).as("_s"))
      .unionByName(probes.select(col("p").as("v"), lit(0).as("_s")))
    // r0: ascending scan, refs BEFORE probes on ties (≤ is inclusive)
    val wLo = Window.orderBy(col("v").asc, col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r1: descending scan, refs AFTER probes on ties (> is strict)
    val wHi = Window.orderBy(col("v").desc, col("_s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val refV = when(col("_s") === 1, col("v"))
    u.withColumn("r0", last(refV, ignoreNulls = true).over(wLo))
      .withColumn("r1", last(refV, ignoreNulls = true).over(wHi))
      .filter(col("_s") === 0)
      .select(col("v").as("p"), col("r0"), col("r1"))
  }

  private def axisBilinearMap(src: org.apache.spark.sql.DataFrame,
      targets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // src: column "c"; targets: column "t"
    val b = axisBrackets(targets.select(col("t").as("p")),
      src.select(col("c").as("r")))
      .select(col("p").as("t"), col("r0").as("c0"), col("r1").as("c1"))
    val lo = b.filter(col("c0").isNotNull).select(col("t"), col("c0").as("c"),
      when(col("c1").isNull, lit(1.0))
        .otherwise((col("c1") - col("t")) / (col("c1") - col("c0"))).as("w"),
      lit(0).as("side"))
    val hi = b.filter(col("c1").isNotNull).select(col("t"), col("c1").as("c"),
      when(col("c0").isNull, lit(1.0))
        .otherwise((col("t") - col("c0")) / (col("c1") - col("c0"))).as("w"),
      lit(1).as("side"))
    lo.unionByName(hi)
  }

  /** resample_cube_spatial, method="bilinear": regrid `data` onto the target
    * cube's axis-aligned grid by separable bilinear interpolation
    * (reference: cubes/resample.py:116-180 lists the method; the reference
    * delegates to odc.reproject). Unlike [[resampleSpatialBilinear]] the
    * target grid is DATA (another cube's coordinates), so the bracketing
    * weights come from per-axis coordinate maps — still tiny, still
    * broadcast; fact rows fan at most 4-fold (the corner count) and the
    * 4-term sum is corner-pinned into a fixed-order expression, keeping the
    * result bit-deterministic across partitionings.
    */
  def resampleCubeSpatialBilinear(data: DataCube, target: DataCube): DataCube = {
    val sd = data.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = data.meta.dimNames.filterNot(d => d == xd || d == yd)
    val (txd, tyd) = {
      val tsd = target.meta.spatialDims
      require(tsd.size >= 2, "DimensionNotAvailable: target needs x and y")
      (tsd.head, tsd(1))
    }
    val xmap = axisBilinearMap(
      data.df.select(col(xd).cast("double").as("c")).distinct(),
      target.df.select(col(txd).cast("double").as("t")).distinct())
      .select(col("t").as("_tx"), col("c").as("_sx"),
        col("w").as("_wx"), col("side").as("_bx"))
    val ymap = axisBilinearMap(
      data.df.select(col(yd).cast("double").as("c")).distinct(),
      target.df.select(col(tyd).cast("double").as("t")).distinct())
      .select(col("t").as("_ty"), col("c").as("_sy"),
        col("w").as("_wy"), col("side").as("_by"))
    val v = data.meta.valueCol
    val joined = data.df
      .join(broadcast(xmap), col(xd) === col("_sx"))
      .join(broadcast(ymap), col(yd) === col("_sy"))
      .withColumn("_corner", col("_bx") * 2 + col("_by"))
      .withColumn("_wv", col("_wx") * col("_wy") * col(v))
    val pinned = joined
      .groupBy((col("_tx") +: col("_ty") +: others.map(col)): _*)
      .agg(
        max(when(col("_corner") === 0, col("_wv"))).as("_w0"),
        max(when(col("_corner") === 1, col("_wv"))).as("_w1"),
        max(when(col("_corner") === 2, col("_wv"))).as("_w2"),
        max(when(col("_corner") === 3, col("_wv"))).as("_w3"))
    val out = pinned.select((col("_tx").as(xd) +: col("_ty").as(yd) +:
      others.map(col) :+
      (coalesce(col("_w0"), lit(0.0)) + coalesce(col("_w1"), lit(0.0)) +
        coalesce(col("_w2"), lit(0.0)) + coalesce(col("_w3"), lit(0.0)))
        .as(v)): _*)
    DataCube(out, data.meta)
  }

  /** resample_spatial, method="mode" (reference: resample.py:23-36): the most
    * frequent value per target cell, DETERMINISTIC tie-break = smallest value
    * among the most frequent. Two-stage aggregation — count per (cell, value)
    * then max_by over (count, −value) — both stages map-side combinable; no
    * rank window over the fact table.
    */
  def resampleSpatialMode(cube: DataCube, xRes: Double, yRes: Double): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val v = cube.meta.valueCol
    val binned = cube.df
      .withColumn("_bx", floor(col(xd) / xRes) * xRes)
      .withColumn("_by", floor(col(yd) / yRes) * yRes)
    val counted = binned
      .groupBy((col("_bx") +: col("_by") +: others.map(col) :+ col(v)): _*)
      .agg(count(lit(1)).as("_cnt"))
    val out = counted
      .groupBy((col("_bx").alias(xd) +: col("_by").alias(yd) +: others.map(col)): _*)
      .agg(max_by(col(v), struct(col("_cnt"), -col(v))).as(v))
    DataCube(out, cube.meta)
  }

  /** Separable interpolation kernels for resample_spatial
    * (reference: resample.py:23-36; the reference delegates to
    * odc/GDAL warp kernels).
    */
  sealed trait InterpKernel { def radius: Int; def weight(t: Double): Double }
  /** Keys cubic convolution, a = −0.5 (the GDAL/Catmull-Rom default). */
  case object CubicKernel extends InterpKernel {
    val radius = 2
    def weight(t: Double): Double = {
      val x = math.abs(t)
      if (x <= 1) (1.5 * x - 2.5) * x * x + 1.0
      else if (x < 2) ((-0.5 * x + 2.5) * x - 4.0) * x + 2.0
      else 0.0
    }
  }
  /** Cubic B-spline (GDAL "cubicspline"): an APPROXIMATING kernel — it
    * smooths rather than interpolates (weights don't vanish at integer
    * offsets), matching the warp method of the same name.
    */
  case object CubicSplineKernel extends InterpKernel {
    val radius = 2
    def weight(t: Double): Double = {
      val x = math.abs(t)
      if (x <= 1) (3 * x * x * x - 6 * x * x + 4) / 6.0
      else if (x < 2) { val u = 2 - x; u * u * u / 6.0 }
      else 0.0
    }
  }

  /** Lanczos windowed sinc, a = 3 (6×6 support). */
  case object LanczosKernel extends InterpKernel {
    val radius = 3
    def weight(t: Double): Double = {
      val x = math.abs(t)
      if (x < 1e-12) 1.0
      else if (x >= 3) 0.0
      else {
        val px = math.Pi * x
        3.0 * math.sin(px) * math.sin(px / 3.0) / (px * px)
      }
    }
  }

  /** Per-target neighbor offsets and separable weights, computed ONCE at
    * plan-build time (driver) so both the Spark plan and the DuckDB oracle
    * inline identical doubles. Row: (cornerIdx, tx, ty, sx, sy, w).
    */
  def kernelCorners(targets: Seq[(Double, Double)],
      kernel: InterpKernel): Seq[(Int, Double, Double, Double, Double, Double)] =
    for {
      (tx, ty) <- targets
      r = kernel.radius
      dx <- (-r + 1) to r
      dy <- (-r + 1) to r
      sx = math.floor(tx) + dx
      sy = math.floor(ty) + dy
      w = kernel.weight(tx - sx) * kernel.weight(ty - sy)
      if w != 0.0
    } yield (((dx + r - 1) * 2 * r) + (dy + r - 1), tx, ty, sx, sy, w)

  /** resample_spatial with an interpolating kernel (cubic 4×4 / lanczos 6×6):
    * the target list explodes to its weighted neighbor lookups, broadcast-
    * joins the source grid (the grid never shuffles), and each target cell
    * folds its surviving (weight·value) terms IN CORNER ORDER — a
    * deterministic left-to-right sum, normalized by the surviving weight sum
    * (partial-support borders degrade gracefully instead of going null).
    */
  def resampleSpatialKernel(cube: DataCube, targets: Seq[(Double, Double)],
      kernel: InterpKernel): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionMissing: spatial dimension missing (need x and y)")
    val (xd, yd) = (sd.head, sd(1))
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val spark = cube.df.sparkSession
    import spark.implicits._
    val c = kernelCorners(targets, kernel)
      .toDF("_ci", "_tx", "_ty", "_sx", "_sy", "_w")
    val joined = cube.df.join(broadcast(c),
      col(xd) === col("_sx") && col(yd) === col("_sy"))
      .withColumn("_wv", col("_w") * cube.value)
    val folded = joined
      .groupBy((col("_tx") +: col("_ty") +: others.map(col)): _*)
      .agg(sort_array(collect_list(struct(col("_ci"), col("_w").as("w"),
        col("_wv").as("wv")))).as("_terms"))
      .withColumn("_sw", aggregate(expr("transform(_terms, s -> s.w)"),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("_swv", aggregate(expr("transform(_terms, s -> s.wv)"),
        lit(0.0), (acc, x) => acc + x))
    val out = folded.select((col("_tx").as(xd) +: col("_ty").as(yd) +:
      others.map(col) :+ (col("_swv") / col("_sw")).as(cube.meta.valueCol)): _*)
    DataCube(out, cube.meta)
  }
}
