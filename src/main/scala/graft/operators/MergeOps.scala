package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** merge_cubes and mask — cube combination
  * (reference: openeo_processes_dask/process_implementations/cubes/merge.py,
  * cubes/mask.py). The reference's coordinate-aligned combination becomes a
  * relational join on the dimension columns (SURVEY.md §2.3).
  */
object MergeOps {

  /** merge_cubes. The reference distinguishes 4 cases by dim/label overlap
    * (reference: cubes/merge.py:54-295); in the long-form relational model
    * they collapse into two physical shapes:
    *
    *  - dims equal → **full outer join** on the dim columns; where both sides
    *    have a value the `overlapResolver` combines them, else coalesce.
    *    (covers reference cases 1-resolver, 2 and 3: concat of disjoint
    *    labels IS the outer join's non-matching rows.)
    *  - dims differ (one cube has extra dims) → join on the shared dims only;
    *    the smaller cube is broadcast when it fits, matching the reference's
    *    xarray broadcasting (case 4, merge.py:230-295).
    *
    * Errors when both sides overlap and no resolver is given
    * (reference: merge.py:165-168,246-249) are raised lazily via a guard
    * expression (raise_error) so the check stays distributed.
    */
  def mergeCubes(cube1: DataCube, cube2: DataCube,
      overlapResolver: Option[(Column, Column) => Column] = None): DataCube = {
    val dims1 = cube1.meta.dimNames
    val dims2 = cube2.meta.dimNames
    val shared = dims1.intersect(dims2)
    require(shared.nonEmpty, "merge_cubes: no shared dimensions")
    val v = cube1.meta.valueCol

    val l = cube1.df.withColumnRenamed(v, "_v1")
    val r = cube2.df.withColumnRenamed(cube2.meta.valueCol, "_v2")

    if (dims1.toSet == dims2.toSet) {
      // Reference case 1 ("Example 3.1", merge.py:92-105): identical dims AND
      // identical label sets WITHOUT a resolver → stack along a new "cubes"
      // dimension. The label-set comparison is per-dim metadata (tiny
      // distinct sets), matching the reference's eager setdiff1d on coords.
      if (overlapResolver.isEmpty && labelSetsIdentical(cube1, cube2, shared))
        return stackCubes(cube1, cube2)
      val joined = l.join(r, shared, "full_outer")
      val merged = overlapResolver match {
        case Some(res) =>
          when(col("_v1").isNotNull && col("_v2").isNotNull, res(col("_v1"), col("_v2")))
            .otherwise(coalesce(col("_v1"), col("_v2")))
        case None =>
          // OverlapResolverMissing iff both non-null (reference: merge.py:165-168)
          when(col("_v1").isNotNull && col("_v2").isNotNull,
            raise_error(lit("OverlapResolverMissing")))
            .otherwise(coalesce(col("_v1"), col("_v2")))
      }
      DataCube(joined.withColumn(v, merged).drop("_v1", "_v2"), cube1.meta)
    } else {
      // dims differ: join on shared dims; the lower-dimensional side
      // broadcasts over the missing dims (reference case 4, merge.py:230-295).
      // Only the join build side depends on which cube is bigger — the
      // resolver is ALWAYS res(cube1Value, cube2Value), matching the
      // reference's fixed x=cube1, y=cube2 binding (merge.py:230-295);
      // swapping args would silently flip non-commutative resolvers.
      val (big, small, bigIsLeft) =
        if (dims1.size >= dims2.size) (l, r, true) else (r, l, false)
      val joined = big.join(Joins.maybeBroadcast(small), shared, "left_outer")
      val res = overlapResolver.getOrElse(
        throw new IllegalArgumentException("OverlapResolverMissing"))
      val merged =
        when(col("_v1").isNotNull && col("_v2").isNotNull,
          res(col("_v1"), col("_v2")))
          .otherwise(coalesce(col("_v1"), col("_v2")))
      val meta = if (bigIsLeft) cube1.meta else cube2.meta
      DataCube(joined.withColumn(v, merged).drop("_v1", "_v2"), meta)
    }
  }

  /** Per-dim label-set equality. Dims whose labels both cubes know
    * compare with ZERO Spark jobs. The other dims fall back to a single
    * combined job (a union of tagged distinct scans, one action) — never
    * the old 2-anti-join-actions-per-dim pattern, which at 100 TB meant
    * 2×|dims| full column scans blocking planning.
    */
  private def labelSetsIdentical(cube1: DataCube, cube2: DataCube,
      dims: Seq[String]): Boolean = {
    val (known, unknown) = dims.partition(d =>
      cube1.labels.contains(d) && cube2.labels.contains(d))
    if (!known.forall(d => cube1.labels(d).toSet == cube2.labels(d).toSet))
      return false
    if (unknown.isEmpty) return true
    def tagged(df: DataFrame, side: Int) = unknown.map(d =>
      df.select(lit(d).as("_dim"), col(d).cast("string").as("_label"))
        .distinct().withColumn("_side", lit(side)))
    (tagged(cube1.df, 1) ++ tagged(cube2.df, 2)).reduce(_ unionAll _)
      .groupBy(col("_dim"), col("_label"))
      .agg(countDistinct(col("_side")).as("_n"))
      .filter(col("_n") === 1)
      .isEmpty
  }

  /** Stack two identically-shaped cubes along a new "cubes" dimension with
    * labels cube1/cube2 (reference: merge.py NEW_DIM_NAME concat). Labels
    * both cubes know alike hold for the stack. The cubes' label sets are
    * identical, so both have rows or neither has: a known label list of
    * cube1 tells which, and so the `cubes` labels.
    */
  private def stackCubes(cube1: DataCube, cube2: DataCube): DataCube = {
    val v = cube1.meta.valueCol
    val d1 = cube1.df.withColumn("cubes", lit("cube1"))
    val d2 = cube2.df.withColumnRenamed(cube2.meta.valueCol, v)
      .withColumn("cubes", lit("cube2"))
    val known = cube1.labels.filter { case (d, ls) => cube2.labels.get(d).contains(ls) }
    val cubes = cube1.labels.values.headOption.map(ls =>
      "cubes" -> (if (ls.isEmpty) Nil else Seq("cube1", "cube2")))
    DataCube(d1.unionByName(d2),
      cube1.meta.copy(dims = cube1.meta.dims :+ CubeDim("cubes", DimType.Other)),
      known ++ cubes)
  }

  /** Align cube2's float coordinates to cube1's where they differ by at
    * most `tolerance` (reference: cubes/merge.py:24-51 `_align_coordinates`,
    * 1e-6) — the step that makes merge_cubes robust to resampling jitter.
    * Per aligned dim: a broadcast nearest-join of cube2's DISTINCT coords
    * against cube1's (both tiny relative to the fact rows), then a
    * broadcast remap of cube2 — no fact-side shuffle.
    */
  def alignCoordinates(cube1: DataCube, cube2: DataCube,
      dims: Seq[String], tolerance: Double = 1e-6): DataCube = {
    import org.apache.spark.sql.expressions.Window
    dims.foldLeft(cube2) { (c2, d) =>
      val ref = cube1.df.select(col(d).cast("double").as("_ref")).distinct()
      val cand = c2.df.select(col(d)).distinct()
      val w = Window.partitionBy(col(d))
        .orderBy(abs(col(d) - col("_ref")).asc, col("_ref").asc)
      val mapping = cand.join(broadcast(ref),
          abs(col(d) - col("_ref")) <= tolerance, "inner")
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col(d).as("_orig"), col("_ref"))
      c2.withDf(_.join(broadcast(mapping), col(d) === col("_orig"), "left_outer")
        .withColumn(d, coalesce(col("_ref"), col(d)))
        .drop("_orig", "_ref"))
    }
  }

  /** mask: replace data cells where the mask cube is truthy
    * (reference: cubes/mask.py:21-118). The mask may lack some of the data's
    * dims — it then broadcasts over them, which in relational form is simply
    * a join on the mask's dims. A left join keeps unmasked cells; the mask
    * side is broadcast only when Catalyst's size estimate says it fits (a
    * full-resolution mask is as big as the data — an unconditional hint would
    * OOM at scale), otherwise the join shuffles and AQE picks the strategy.
    */
  def mask(data: DataCube, maskCube: DataCube,
      replacement: Column = lit(null)): DataCube = {
    // the reference's dimension contract (cubes/mask.py:28-70): a mask
    // with temporal dims that differ from the data's is an error (a mask
    // WITHOUT temporal dims broadcasts over time instead); spatial dim
    // names must match exactly — both metadata-only checks, zero jobs
    val dT = data.meta.temporalDims.toSet
    val mT = maskCube.meta.temporalDims.toSet
    if (dT != mT && mT.nonEmpty) throw new IllegalArgumentException(
      s"DimensionMismatch: data and mask temporal dimensions do not " +
        s"match: data has (${dT.mkString(",")}) and mask (${mT.mkString(",")})")
    val dS = data.meta.spatialDims.toSet
    val mS = maskCube.meta.spatialDims.toSet
    if (dS != mS) throw new IllegalArgumentException(
      s"DimensionMismatch: data and mask spatial dimensions do not " +
        s"match: data has (${dS.mkString(",")}) and mask (${mS.mkString(",")})")
    val shared = data.meta.dimNames.intersect(maskCube.meta.dimNames)
    require(shared.nonEmpty, "mask: no shared dimensions")
    val m = maskCube.df.withColumnRenamed(maskCube.meta.valueCol, "_mask")
    val joined = data.df.join(Joins.maybeBroadcast(m), shared, "left_outer")
    val v = data.meta.valueCol
    val masked = when(coalesce(col("_mask").cast("boolean"), lit(false)), replacement)
      .otherwise(col(v))
    DataCube(joined.withColumn(v, masked).drop("_mask"), data.meta)
  }
}
