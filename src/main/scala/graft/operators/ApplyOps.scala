package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** apply / apply_dimension — the element-wise and along-dimension callback
  * framework (reference: openeo_processes_dask/process_implementations/cubes/apply.py).
  */
object ApplyOps {

  /** Element-wise apply: the whole scalar callback sub-graph is one fused
    * Column expression tree — Tungsten codegen compiles it into a single
    * loop, with no per-process dispatch at all (vs the reference's
    * xr.apply_ufunc per node, reference: cubes/apply.py:24-39).
    */
  def apply(cube: DataCube, process: Column => Column): DataCube =
    cube.withDf(_.withColumn(cube.meta.valueCol, process(cube.value)))

  /** apply_dimension with a *window-class* callback (cumulative sums, ranks,
    * interpolation…): runs the callback per series over the given dim,
    * preserving cube shape (reference: cubes/apply.py:42-128, the
    * target_dimension=None branch).
    *
    * The callback receives a Window partitioned by every other dim and
    * ordered by the dim — a single shuffle keyed on the series identity.
    */
  def applyDimensionWindow(cube: DataCube, dimension: String,
      process: (Column, org.apache.spark.sql.expressions.WindowSpec) => Column): DataCube = {
    cube.requireDim(dimension)
    val others = cube.dimColsExcept(dimension)
    val w = Window.partitionBy(others: _*).orderBy(col(dimension))
    cube.withDf(_.withColumn(cube.meta.valueCol, process(cube.value, w)))
  }

  /** apply_dimension with an *array-class* callback and the full
    * target_dimension relabel rules (reference: cubes/apply.py:96-120):
    *
    *  - `target == dimension` (or None): labels preserved when the callback
    *    keeps series length (`lengthPreserving = true` — the engine's static
    *    declaration of what the reference detects at runtime on its
    *    rectangular cubes), else relabeled to positions 0..n−1;
    *  - target exists with exactly ONE label: the size-1 dim is squeezed
    *    away, the source dim becomes `target`, labels 0..n−1;
    *  - target exists with more labels: error (mirrors the reference's
    *    raise);
    *  - target is new: source dim renamed to `target`, labels 0..n−1.
    */
  def applyDimensionTarget(cube: DataCube, dimension: String,
      process: Column => Column, targetDimension: Option[String] = None,
      lengthPreserving: Boolean = false): DataCube = {
    cube.requireDim(dimension)
    val target = targetDimension.getOrElse(dimension)
    applyDimensionArrayWith(squeezeTarget(cube, dimension, target), dimension,
      Nil, (arr, _) => process(arr),
      relabelTo = if (target == dimension && lengthPreserving) None else Some(target))
  }

  /** The target_dimension rules applied AROUND an already-transformed,
    * length- and label-preserving cube — the window-chain compilation
    * path, where the callback ran as O(n) window operators and no series
    * array ever existed. target == dimension keeps the cube as is;
    * renames follow the same squeeze/relabel rules as
    * [[applyDimensionTarget]], with the positional labels assigned by a
    * rank window (one shuffle, only in the rename case).
    */
  def retargetPreserved(cube: DataCube, dimension: String,
      targetDimension: Option[String]): DataCube = {
    val target = targetDimension.getOrElse(dimension)
    if (target == dimension) cube
    else {
      val base = squeezeTarget(cube, dimension, target)
      val others = base.meta.dimNames.filterNot(_ == dimension)
      val w = Window.partitionBy(others.map(col): _*).orderBy(col(dimension))
      val out = base.df
        .withColumn("_pos", (row_number().over(w) - 1).cast("long"))
        .select((others.map(col) :+ col("_pos").as(target) :+
          col(base.meta.valueCol)): _*)
      DataCube(out, relabeled(base.meta, dimension, target))
    }
  }

  /** An existing `target` other than `dimension` must have exactly one
    * label, and is squeezed away; the label count reads
    * [[DataCube.labelsOf]] (no job when known, else one over the
    * column-pruned dim column).
    */
  private def squeezeTarget(cube: DataCube, dimension: String,
      target: String): DataCube =
    if (target == dimension || !cube.meta.has(target)) cube
    else {
      val nLabels = cube.labelsOf(target).size
      if (nLabels > 1) throw new IllegalArgumentException(
        s"Cannot rename dimension $dimension to $target: $target already " +
          s"exists and contains $nLabels labels")
      DataCube(cube.df.drop(target), cube.meta.without(target))
    }

  /** `dimension` replaced by a positional `outDim` at the end */
  private def relabeled(meta: CubeMetadata, dimension: String,
      outDim: String): CubeMetadata =
    meta.copy(dims = meta.dims.filterNot(_.name == dimension) :+
      CubeDim(outDim, DimType.Other))

  /** The array-callback core: the callback maps each series' value array
    * ([[DataCube.series]]) to an output array, and the output becomes
    * cells again by one explode, with no window and no join back.
    *
    *  - `relabelTo = None` (a length-preserving callback): the i-th output
    *    takes the series' i-th original label (`arrays_zip(_keys, _out)`),
    *    so the cube keeps its dims and label types;
    *  - `relabelTo = Some(outDim)`: `dimension` becomes `outDim`, labeled by
    *    positions 0..n−1 (`posexplode`). A scalar-valued callback (`mean`
    *    as the whole process) yields the one label 0, as the reference's
    *    result_len = 1 (cubes/apply.py:92-103).
    *
    * `pre` helpers are evaluated once per series into columns the callback
    * receives: Spark's higher-order functions are interpreted, and an
    * outer capture such as `transform(arr, x -> x - element_at(arr, 1))`
    * would re-derive the capture per element — O(n²) per series.
    */
  def applyDimensionArrayWith(cube: DataCube, dimension: String,
      pre: Seq[Column => Column],
      process: (Column, Seq[Column]) => Column,
      relabelTo: Option[String] = None): DataCube = {
    val others = cube.meta.dimNames.filterNot(_ == dimension).map(col)
    val preNames = pre.indices.map(i => s"_pre$i")
    val out = pre.zip(preNames)
      .foldLeft(cube.series(dimension)) { case (df, (p, n)) =>
        df.withColumn(n, p(col("_vals"))) }
      .withColumn("_out", process(col("_vals"), preNames.map(col)))
    val v = cube.meta.valueCol
    relabelTo match {
      case None =>
        val cells = out.select(others :+
          explode(arrays_zip(col("_keys"), col("_out"))).as("_z"): _*)
        DataCube(cells.select(others :+ col("_z._keys").as(dimension) :+
          col("_z._out").as(v): _*), cube.meta)
      case Some(outDim) =>
        val arrays = out.schema("_out").dataType match {
          case _: org.apache.spark.sql.types.ArrayType => col("_out")
          case _ => array(col("_out"))
        }
        val cells = out.select(others :+
          posexplode(arrays).as(Seq("_pos", v)): _*)
        DataCube(cells.select(others :+ col("_pos").cast("long").as(outDim) :+
          col(v): _*), relabeled(cube.meta, dimension, outDim))
    }
  }
}
