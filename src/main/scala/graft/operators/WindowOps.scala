package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Along-dimension ordering/cumulative/gap-fill processes, implemented as
  * window functions over the long-form cube: one shuffle keyed by the series
  * dims, ordered by the processed dim, arbitrarily many series in parallel —
  * where the reference must materialise whole arrays on one worker
  * (dask can't lazy-sort, reference: arrays.py:508-513).
  */
object WindowOps {

  private def seriesWindow(cube: DataCube, dim: String) = {
    val others = cube.dimColsExcept(dim)
    Window.partitionBy(others: _*).orderBy(col(dim))
  }

  /** cumulative sum/min/max/product along a dim; null cells stay null but do
    * not break accumulation (reference: math.py:125-174).
    */
  def cumsum(cube: DataCube, dim: String): DataCube = cum(cube, dim, sum)
  def cummin(cube: DataCube, dim: String): DataCube = cum(cube, dim, min)
  def cummax(cube: DataCube, dim: String): DataCube = cum(cube, dim, max)

  private def cum(cube: DataCube, dim: String,
      agg: Column => Column): DataCube = {
    cube.requireDim(dim)
    val w = seriesWindow(cube, dim).rowsBetween(Window.unboundedPreceding, 0)
    val v = cube.value
    // null cells stay null; aggregates skip nulls so accumulation continues
    cube.withDf(_.withColumn(cube.meta.valueCol,
      when(v.isNull, lit(null)).otherwise(agg(v).over(w))))
  }

  /** order: the 0-based sort permutation of values along a dim — stable,
    * ties broken by position, with nodata placement
    * (reference: arrays.py:498-535). Emitted as a rank column next to each
    * cell; downstream `rearrange`/`sort` consume it relationally.
    */
  def orderRank(cube: DataCube, dim: String, ascending: Boolean = true,
      nullsLast: Boolean = true): DataCube = {
    cube.requireDim(dim)
    val others = cube.dimColsExcept(dim)
    val v = cube.value
    val ord: Seq[Column] = (ascending, nullsLast) match {
      case (true, true)   => Seq(v.asc_nulls_last, col(dim).asc)
      case (true, false)  => Seq(v.asc_nulls_first, col(dim).asc)
      case (false, true)  => Seq(v.desc_nulls_last, col(dim).asc)
      case (false, false) => Seq(v.desc_nulls_first, col(dim).asc)
    }
    val w = Window.partitionBy(others: _*).orderBy(ord: _*)
    cube.withDf(_.withColumn("rank", row_number().over(w) - 1))
  }

  /** sort: values re-assigned in sorted order along the dim
    * (reference: arrays.py:558-584): rank the values, rank the positions,
    * and join rank→rank — fully distributed, never collects a series.
    */
  def sortAlong(cube: DataCube, dim: String, ascending: Boolean = true): DataCube = {
    cube.requireDim(dim)
    val others = cube.meta.dimNames.filterNot(_ == dim)
    val v = cube.value
    // non-dim, non-value columns (e.g. side-branch per-series constants)
    // ride the positions side: their per-row association with the dim
    // label is what sort preserves
    val extras = cube.df.columns.toSeq
      .filterNot(n => n == dim || n == cube.meta.valueCol || others.contains(n))
    val posW = Window.partitionBy(others.map(col): _*).orderBy(col(dim))
    val valW = Window.partitionBy(others.map(col): _*)
      .orderBy(if (ascending) v.asc_nulls_last else v.desc_nulls_last, col(dim).asc)
    val positions = cube.df.select((others.map(col) ++ extras.map(col) :+
      col(dim) :+ (row_number().over(posW) - 1).as("_slot")): _*)
    val values = cube.df.select((others.map(col) :+ v :+
      (row_number().over(valW) - 1).as("_slot")): _*)
    val joined = positions.join(values, others :+ "_slot").drop("_slot")
    DataCube(joined.select((others.map(col) :+ col(dim) :+ v) ++
      extras.map(col): _*), cube.meta)
  }

  /** first/last non-null value along a dim, one row per series
    * (reference: arrays.py:461-495) — min_by/max_by on a null-filtered
    * ordering key: single-pass, partial-aggregable.
    */
  def firstLast(cube: DataCube, dim: String): org.apache.spark.sql.DataFrame = {
    val others = cube.dimColsExcept(dim)
    val v = cube.value
    cube.df.groupBy(others: _*).agg(
      min_by(v, when(v.isNotNull, col(dim))).as("first_v"),
      max_by(v, when(v.isNotNull, col(dim))).as("last_v"))
  }

  /** cumulative product for integer-valued (scaled-decimal) cubes — exact
    * while the running product stays under 2^53 (reference: math.py:125-174
    * cumproduct; use a log-domain variant for unbounded float data).
    *
    * Implemented as a typed product Aggregator over the running frame: the
    * window processor extends the frame one row at a time and updates the
    * single-Long buffer incrementally — O(n) per series, versus the O(n²)
    * time and O(n)-per-row memory of folding collect_list under the frame.
    */
  def cumprodExact(cube: DataCube, dim: String): DataCube = {
    cube.requireDim(dim)
    val w = seriesWindow(cube, dim).rowsBetween(Window.unboundedPreceding, 0)
    val v = cube.value
    cube.withDf(_.withColumn(cube.meta.valueCol,
      when(v.isNull, lit(null)).otherwise(
        graft.functions.ProductAgg.column(v).over(w))))
  }

  /** apply_neighborhood along one dim: reduce a sliding window of
    * `before`/`after` neighbors around each cell
    * (reference: cubes/apply_neighborhood_intertwin.py:8-43 — the rolling
    * construct+reduce; separable case). One shuffle per series key; the
    * frame never materialises.
    */
  def applyNeighborhood(cube: DataCube, dim: String,
      before: Int, after: Int, reducer: Column => Column): DataCube = {
    cube.requireDim(dim)
    val w = seriesWindow(cube, dim).rowsBetween(-before, after)
    cube.withDf(_.withColumn(cube.meta.valueCol, reducer(cube.value).over(w)))
  }

  /** TRUE 2-D apply_neighborhood over the spatial dims with size, overlap
    * and stride (reference: cubes/apply_neighborhood_intertwin.py:8-43:
    * rolling(size, center=True).construct(stride) then reduce the window
    * dims; overlap rewrites size→size+2·overlap, stride→size−overlap,
    * apply_neighborhood_intertwin.py:40-43).
    *
    * Long-form formulation: window centers sit on the strided integer grid;
    * a cell (x, y) belongs to every center c with c−before ≤ x ≤ c+after
    * per axis, so each cell GENERATES its (bounded, ⌈size/stride⌉² ≤ small)
    * candidate centers arithmetically and one partial-aggregating groupBy
    * reduces each window — ONE shuffle, no self-join, no per-tile
    * materialisation; cells outside every window drop out via the empty
    * sequence. Missing cells inside a window are simply absent (the
    * ignore-nodata reduce the rest of the library uses; xarray's NaN-pad +
    * skipna reduce reaches the same values).
    */
  def applyNeighborhood2D(cube: DataCube, sizeX: Int, sizeY: Int,
      reducer: Column => Column,
      overlapX: Int = 0, overlapY: Int = 0): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.size >= 2, "DimensionNotAvailable: need x and y")
    val (xd, yd) = (sd.head, sd(1))
    require(sizeX > 0 && sizeY > 0, "apply_neighborhood: size must be positive")
    // overlap widens the window and shrinks the stride (reference: :40-43)
    val (winX, winY) = (sizeX + 2 * overlapX, sizeY + 2 * overlapY)
    val (strideX, strideY) = (winX - overlapX, winY - overlapY)
    def centers(coord: Column, win: Int, stride: Int): Column = {
      val before = win / 2          // center=True; even windows put the
      // extra cell below the center: coverage [c-before, c+after]
      val after = win - 1 - before
      val lo = ceil((coord - after) / stride.toDouble).cast("long")
      val hi = floor((coord + before) / stride.toDouble).cast("long")
      when(lo <= hi, sequence(lo, hi)).otherwise(array().cast("array<bigint>"))
    }
    val others = cube.meta.dimNames.filterNot(d => d == xd || d == yd)
    val out = cube.df
      .withColumn("_cx", explode(centers(col(xd), winX, strideX)))
      .withColumn("_cy", explode(centers(col(yd), winY, strideY)))
      .groupBy(((col("_cx") * strideX).as(xd) +: (col("_cy") * strideY).as(yd)
        +: others.map(col)): _*)
      .agg(reducer(cube.value).as(cube.meta.valueCol))
    DataCube(out, cube.meta)
  }

  /** Banded recurrence rate per series — the core statistic behind the
    * reference's RQA deforestation detector
    * (reference: experimental/rqadeforestation.py:9-16, which runs an
    * `apply_along_axis` Julia kernel per time-series). For lags 1..maxLag,
    * the fraction of (t, t−k) pairs whose values recur within `eps`.
    * Window-lag formulation: no per-series collection, one shuffle on the
    * series dims, exact integer counting.
    */
  def recurrenceRate(cube: DataCube, dim: String, eps: Double,
      maxLag: Int): org.apache.spark.sql.DataFrame = {
    cube.requireDim(dim)
    val others = cube.dimColsExcept(dim)
    val w = seriesWindow(cube, dim)
    val v = cube.value
    val lagged = (1 to maxLag).map(k => lag(v, k).over(w))
    val rec = lagged.map(lv => when(abs(v - lv) < eps, 1).otherwise(0))
      .reduce(_ + _)
    val valid = lagged.map(lv => when(lv.isNotNull && v.isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    cube.df
      .withColumn("_rec", rec).withColumn("_valid", valid)
      .groupBy(others: _*)
      .agg((sum(col("_rec")) / sum(col("_valid")).cast("double"))
        .as("recurrence_rate"),
        sum(col("_rec")).cast("bigint").as("n_recurrent"),
        sum(col("_valid")).cast("bigint").as("n_pairs"))
  }

  /** array_interpolate_linear along a dim: fill null cells by linear
    * interpolation against the dim coordinate; edge nulls stay null
    * (reference: arrays.py:405-458). Window gap-fill: previous/next valid
    * value + coordinate via ignoreNulls `last`, then a linear blend.
    *
    * BOTH lookups run over GROWING frames (unboundedPreceding..-1): the
    * next-valid lookup uses a descending-ordered window, where `last`
    * ignoring nulls is the nearest following valid row. Spark extends
    * growing frames incrementally — O(n) per series — whereas a
    * (1, unboundedFollowing) shrinking frame is recomputed from scratch per
    * row, O(n²): measured 60 s vs 0.6 s at sf0.1 on this exact operator.
    */
  /** [[interpolateLinear]] with POSITION coordinates — the openEO ARRAY
    * semantics (array_interpolate_linear indexes by position), used when
    * apply_dimension compiles the callback as a window chain: the gap
    * ratio is rank-based, not dim-value-based, which differs on unevenly
    * spaced labels. The position column shares the interpolation windows'
    * partitioning and order, so it adds no shuffle.
    */
  def interpolateLinearByPosition(cube: DataCube, dim: String): DataCube = {
    cube.requireDim(dim)
    val others = cube.dimColsExcept(dim)
    val wPos = Window.partitionBy(others: _*).orderBy(col(dim))
    val withPos = cube.withDf(_.withColumn("_ipos",
      (row_number().over(wPos) - 1).cast("double")))
    interpolateLinear(withPos, dim, _ => col("_ipos")).withDf(_.drop("_ipos"))
  }

  def interpolateLinear(cube: DataCube, dim: String,
      coord: Column => Column = identity): DataCube = {
    cube.requireDim(dim)
    val others = cube.dimColsExcept(dim)
    val v = cube.value
    val x = coord(col(dim)).cast("double")
    val wPrev = Window.partitionBy(others: _*).orderBy(col(dim).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(others: _*).orderBy(col(dim).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevV = last(v, ignoreNulls = true).over(wPrev)
    val prevX = last(when(v.isNotNull, x), ignoreNulls = true).over(wPrev)
    val nextV = last(v, ignoreNulls = true).over(wNext)
    val nextX = last(when(v.isNotNull, x), ignoreNulls = true).over(wNext)
    val filled = when(v.isNotNull, v).otherwise(
      prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX))
    cube.withDf(_.withColumn(cube.meta.valueCol, filled))
  }
}
