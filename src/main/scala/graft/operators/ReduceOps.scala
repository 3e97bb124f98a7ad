package graft.operators

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** reduce_dimension / reduce_spatial — the reducer framework
  * (reference: openeo_processes_dask/process_implementations/cubes/reduce.py:13-62).
  *
  * Spark shape: `groupBy(all dims except the reduced one).agg(reducer)`.
  * Catalyst gives partial (map-side) aggregation, codegen and spill for free —
  * the exact capabilities whose absence limits the reference to cubes that fit
  * one dask chunk (reference: docs/scalability/aggregate-large-spatial-extents.md).
  * At 100 TB this is a single shuffle keyed by the surviving dims; skew across
  * keys is handled by AQE.
  */
object ReduceOps {

  /** Reduce one dimension with a single reducer expression. The reduced
    * dimension's column disappears from the schema, mirroring the reference's
    * dropped dim (reference: cubes/reduce.py:30-35).
    */
  def reduceDimension(cube: DataCube, dimension: String,
      reducer: Column => Column): DataCube = {
    cube.requireDim(dimension)
    val keys = cube.dimColsExcept(dimension)
    val out =
      if (keys.isEmpty) cube.df.agg(reducer(cube.value).as(cube.meta.valueCol))
      else cube.df.groupBy(keys: _*).agg(reducer(cube.value).as(cube.meta.valueCol))
    DataCube(out, cube.meta.without(dimension))
  }

  /** Reduce one dimension with an ARRAY-style reducer: the callback
    * receives each series' value array ordered by the reduced dimension's
    * labels ([[DataCube.series]]) — openEO's general reducer semantics, in
    * which the published EVI example indexes the band array with
    * `array_element` (reference: cubes/reduce.py:13-35 passes the labeled
    * axis to the callback). Plan shape: STILL one shuffle — the series
    * `groupBy(surviving dims)`, with the callback's scalar expression tree
    * evaluating in the projection above it. Used only when the callback
    * composes beyond a single plain aggregate (those keep the partial-agg
    * fast path in [[reduceDimension]]).
    */
  def reduceDimensionArray(cube: DataCube, dimension: String,
      arrayReducer: Column => Column): DataCube = {
    val out = cube.series(dimension).select(
      cube.dimColsExcept(dimension) :+
        arrayReducer(col("_vals")).as(cube.meta.valueCol): _*)
    // Scalar results normalize to double, matching the single-aggregate
    // fast path in [[reduceDimension]]; ARRAY-valued composed reducers
    // (extrema, multi-probability quantiles) keep their arrays — the old
    // unconditional double cast silently nulled them. The dtype check is
    // analysis-only (no job), and the post-hoc cast collapses into the
    // same projection.
    val scalarOut = out.schema(cube.meta.valueCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => out
      case _ => out.withColumn(cube.meta.valueCol,
        col(cube.meta.valueCol).cast("double"))
    }
    DataCube(scalarOut, cube.meta.without(dimension))
  }

  /** Reduce with several named reducers at once (used by queries that want a
    * stats panel; the reference would run reduce_dimension once per reducer —
    * one shuffle here instead of N).
    */
  def reduceDimensionMulti(cube: DataCube, dimension: String,
      reducers: Seq[(String, Column => Column)]): DataCube = {
    cube.requireDim(dimension)
    val keys = cube.dimColsExcept(dimension)
    val aggs = reducers.map { case (name, r) => r(cube.value).as(name) }
    val out =
      if (keys.isEmpty) cube.df.agg(aggs.head, aggs.tail: _*)
      else cube.df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    DataCube(out, cube.meta.without(dimension).copy(valueCol = reducers.head._1))
  }

  /** Reduce over both spatial dims (reference: cubes/reduce.py:49-62). */
  def reduceSpatial(cube: DataCube, reducer: Column => Column): DataCube = {
    val sd = cube.meta.spatialDims
    require(sd.nonEmpty, "DimensionNotAvailable: no spatial dims")
    val keys = cube.meta.dimNames.filterNot(sd.contains).map(col)
    val out =
      if (keys.isEmpty) cube.df.agg(reducer(cube.value).as(cube.meta.valueCol))
      else cube.df.groupBy(keys: _*).agg(reducer(cube.value).as(cube.meta.valueCol))
    DataCube(out, sd.foldLeft(cube.meta)((m, d) => m.without(d)))
  }
}
