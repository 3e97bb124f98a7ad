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

  /** apply_dimension with an *array-class* callback: collects each series to
    * an array (ordered by the dim), applies an ArrayType→ArrayType Column
    * function (higher-order functions — still codegen'd), and explodes back.
    * Used for callbacks with cross-element data flow that windows can't
    * express (reference's np.apply_along_axis path).
    */
  def applyDimensionArray(cube: DataCube, dimension: String,
      process: Column => Column): DataCube =
    applyDimensionArrayWith(cube, dimension, Nil,
      (arr, _) => process(arr))

  /** Like [[applyDimensionArray]] but with hoisted per-series helper values.
    *
    * Spark's higher-order functions are interpreted (no codegen), and an
    * outer-array capture inside the lambda is re-evaluated per ELEMENT —
    * `transform(arr, x -> x - element_at(arr, 1))` is O(n²) per series
    * (measured 113 s vs <1 s on a 100k-row bench). `pre` expressions are
    * evaluated once per series into columns the lambda then references.
    */
  /** Like [[applyDimensionArray]] but with hoisted per-series helper values.
    *
    * Implementation notes (both learned from 100×-slowdown measurements):
    *  - Spark's higher-order functions are interpreted (no codegen) and an
    *    outer capture like `transform(arr, x -> x - element_at(arr, 1))`
    *    re-derives the captured expression per ELEMENT once projection
    *    collapse inlines it — O(n²) per series. `pre` expressions are
    *    computed once per series into real columns the lambda references.
    *  - The result is NOT exploded back. `InferFiltersFromGenerate` copies
    *    the whole lambda pipeline into a `size(...) > 0` filter in front of
    *    any Generate (and predicate pushdown re-inlines it through any
    *    barrier), hitting the same O(n²). Instead the per-series output
    *    array joins back to the original rows and each row picks its
    *    element by rank — the window and the join share the same hash
    *    partitioning on the series dims, so this adds no extra shuffle.
    */
  /** apply_dimension with the full target_dimension relabel rules
    * (reference: cubes/apply.py:96-120):
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
    *
    * The label-cardinality check reads the target's labels
    * ([[DataCube.labelsOf]]): no job when they are known, else one over the
    * (column-pruned) dim column, not the fact payload.
    */
  def applyDimensionTarget(cube: DataCube, dimension: String,
      process: Column => Column, targetDimension: Option[String] = None,
      lengthPreserving: Boolean = false): DataCube = {
    cube.requireDim(dimension)
    val target = targetDimension.getOrElse(dimension)
    if (target == dimension) {
      if (lengthPreserving) applyDimensionArray(cube, dimension, process)
      else applyDimensionRelabel(cube, dimension, process, dimension)
    } else if (cube.meta.has(target)) {
      val nLabels = cube.labelsOf(target).size
      if (nLabels > 1) throw new IllegalArgumentException(
        s"Cannot rename dimension $dimension to $target: $target already exists " +
          s"and contains $nLabels labels")
      val squeezed = DataCube(cube.df.drop(target), cube.meta.without(target))
      applyDimensionRelabel(squeezed, dimension, process, target)
    } else applyDimensionRelabel(cube, dimension, process, target)
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
      val base = if (cube.meta.has(target)) {
        val nLabels = cube.labelsOf(target).size
        if (nLabels > 1) throw new IllegalArgumentException(
          s"Cannot rename dimension $dimension to $target: $target already " +
            s"exists and contains $nLabels labels")
        DataCube(cube.df.drop(target), cube.meta.without(target))
      } else cube
      val others = base.meta.dimNames.filterNot(_ == dimension)
      val w = Window.partitionBy(others.map(col): _*).orderBy(col(dimension))
      val out = base.df
        .withColumn("_pos", (row_number().over(w) - 1).cast("long"))
        .select((others.map(col) :+ col("_pos").as(target) :+
          col(base.meta.valueCol)): _*)
      val newMeta = CubeMetadata(
        base.meta.dims.filterNot(_.name == dimension) :+
          CubeDim(target, DimType.Other),
        base.meta.crs, base.meta.valueCol)
      DataCube(out, newMeta)
    }
  }

  /** Array-callback apply_dimension whose output dim `outDim` is labeled by
    * positions 0..n−1 — the shape-changing path (posexplode of the
    * per-series output array).
    */
  private def applyDimensionRelabel(cube: DataCube, dimension: String,
      process: Column => Column, outDim: String): DataCube = {
    val others = cube.meta.dimNames.filterNot(_ == dimension)
    val grouped =
      if (others.nonEmpty) cube.df.groupBy(others.map(col): _*)
      else cube.df.groupBy(lit(1).as("_g"))
    val raw = grouped
      .agg(sort_array(collect_list(struct(col(dimension).as("_k"),
        cube.value.as("_v")))).as("_series"))
      .withColumn("_vals", expr("transform(_series, s -> s._v)"))
      .withColumn("_out", process(col("_vals")))
    // a SCALAR-valued callback (e.g. `mean` as the whole process) reduces
    // the series to one value: the reference relabels the dim to [0]
    // (result_len = 1, cubes/apply.py:92-103) — wrap it so the posexplode
    // below emits exactly that. Analysis-only dtype check, no job.
    val arrays = raw.schema("_out").dataType match {
      case _: org.apache.spark.sql.types.ArrayType => raw
      case _ => raw.withColumn("_out", array(col("_out")))
    }
    val exploded = arrays
      .select((others.map(col) :+
        posexplode(col("_out")).as(Seq("_pos", cube.meta.valueCol))): _*)
      .withColumn(outDim, col("_pos").cast("long"))
    val newMeta = CubeMetadata(
      cube.meta.dims.filterNot(_.name == dimension) :+ CubeDim(outDim, DimType.Other),
      cube.meta.crs, cube.meta.valueCol)
    DataCube(exploded.select(
      (others.map(col) :+ col(outDim) :+ col(cube.meta.valueCol)): _*), newMeta)
  }

  def applyDimensionArrayWith(cube: DataCube, dimension: String,
      pre: Seq[Column => Column],
      process: (Column, Seq[Column]) => Column): DataCube = {
    cube.requireDim(dimension)
    val others = cube.meta.dimNames.filterNot(_ == dimension)
    val preNames = pre.indices.map(i => s"_pre$i")
    val grouped =
      if (others.nonEmpty) cube.df.groupBy(others.map(col): _*)
      else cube.df.groupBy(lit(1).as("_g"))
    val withPre = grouped
      .agg(
        sort_array(collect_list(struct(col(dimension).as("_k"),
          cube.value.as("_v")))).as("_series"))
      .withColumn("_vals", expr("transform(_series, s -> s._v)"))
    val arrays = pre.zip(preNames)
      .foldLeft(withPre) { case (df, (p, n)) => df.withColumn(n, p(col("_vals"))) }
      .withColumn("_out", process(col("_vals"), preNames.map(col)))
      .select(((if (others.nonEmpty) others else Seq("_g")).map(col) :+ col("_out")): _*)

    val w = Window.partitionBy(
        (if (others.nonEmpty) others.map(col) else Seq(lit(1))): _*)
      .orderBy(col(dimension))
    val positioned = cube.df.withColumn("_rn", row_number().over(w))
      .withColumn("_g", lit(1))
    val joined = positioned
      .join(arrays, if (others.nonEmpty) others else Seq("_g"))
      .withColumn(cube.meta.valueCol, element_at(col("_out"), col("_rn")))
      .drop("_out", "_rn", "_g")
    DataCube(joined.select(
      (others.map(col) :+ col(dimension) :+ col(cube.meta.valueCol)): _*), cube.meta)
  }
}
