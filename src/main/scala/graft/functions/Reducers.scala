package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** OpenEO reducer/aggregate processes as Catalyst aggregate `Column`s.
  * (reference: openeo_processes_dask/process_implementations/math.py — the
  * numpy `axis`-aware reducers fed to reduce_dimension, cubes/reduce.py:13-46.)
  *
  * `ignoreNodata = true` (the reference default) maps to Spark's native
  * null-skipping aggregates — a free win. `ignoreNodata = false` mirrors the
  * numpy non-nan variants: any null in the group nulls the result, expressed
  * as a `when` guard around the skipping aggregate (still one pass, still
  * partial-aggregation-friendly: both sub-aggregates are map-side combinable).
  */
object Reducers {

  /** count of nulls in group — building block for the strict variants. */
  private def anyNull(v: Column): Column = count(when(v.isNull, 1)) > 0
  private def strict(v: Column, agg: Column): Column =
    when(anyNull(v), lit(null)).otherwise(agg)

  def sumR(v: Column, ignoreNodata: Boolean = true): Column = {
    // numpy nansum of an all-null slice is 0 in numpy but the openeo spec (and
    // the reference, math.py:390-398 via nansum on empty) keeps null; Spark
    // `sum` returns null for all-null groups, matching the spec.
    if (ignoreNodata) sum(v) else strict(v, sum(v))
  }
  def meanR(v: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) avg(v) else strict(v, avg(v))
  def minR(v: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) min(v) else strict(v, min(v))
  def maxR(v: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) max(v) else strict(v, max(v))
  def medianR(v: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) percentile(v, lit(0.5))
    else strict(v, percentile(v, lit(0.5)))

  /** Sample standard deviation / variance, ddof=1 (reference: math.py:198-209).
    *
    * Implemented from exact moment sums rather than Spark's streaming
    * `stddev_samp` so results are bit-reproducible across partitionings and
    * engines when inputs are integer-valued — important both for the DuckDB
    * oracle and for deterministic re-runs on a cluster.
    */
  def varianceR(v: Column, ignoreNodata: Boolean = true): Column = {
    val n = count(v).cast("double")
    val s = sum(v)
    val s2 = sum(v * v)
    val core = when(n > 1, (s2 - s * s / n) / (n - 1))
    if (ignoreNodata) core else strict(v, core)
  }
  def sdR(v: Column, ignoreNodata: Boolean = true): Column =
    sqrt(varianceR(v, ignoreNodata))

  /** Exact quantiles with linear interpolation — matches
    * `np.nanquantile(method="linear")` (reference: math.py:341-387).
    * Exact percentile buffers every group value before sorting — right for
    * oracle parity and bounded groups; for 100-TB groups prefer
    * [[approxQuantilesR]].
    */
  def quantilesR(v: Column, probabilities: Seq[Double]): Column =
    percentile(v, array(probabilities.map(lit): _*))

  /** Scale-path quantiles: `percentile_approx` (t-digest-style sketch,
    * relative error ≤ 1/accuracy) — CONSTANT memory per group and fully
    * partial-aggregatable, so a group of a billion values costs the same
    * buffer as a group of a thousand. The exact reducer stays the default
    * where results feed the bit-exact oracle; this is the documented
    * swap-in when group cardinality is unbounded.
    */
  def approxQuantilesR(v: Column, probabilities: Seq[Double],
      accuracy: Int = 10000): Column =
    percentile_approx(v, array(probabilities.map(lit): _*), lit(accuracy))

  /** [min, max] pair (reference: math.py:322-329). */
  def extremaR(v: Column, ignoreNodata: Boolean = true): Column =
    array(minR(v, ignoreNodata), maxR(v, ignoreNodata))

  /** Product via sign/zero decomposition + exp∘sum∘ln — fully
    * partial-aggregatable, unlike a naive fold (reference: math.py:401-409).
    */
  def productR(v: Column): Column = {
    val logSum = sum(log(abs(nullif(v, lit(0)))))
    val zeros = count(when(v === 0, 1))
    val negs = count(when(v < 0, 1))
    when(count(v) === 0, lit(null))
      .when(zeros > 0, lit(0.0))
      .otherwise(exp(logSum) * when(pmod(negs, lit(2)) === 1, -1.0).otherwise(1.0))
  }

  /** Exact product for integer-valued (scaled-decimal) inputs: a typed
    * product Aggregator — every multiply is exact while the running product
    * stays under 2^53, so the result is order-independent, and the single
    * Long buffer keeps it map-side combinable (unlike a collect_list fold,
    * which ships whole groups across the shuffle). Use `productR` for float
    * inputs at scale; this variant for decimal-exact parity.
    */
  def productExactR(v: Column): Column =
    when(count(v) === 0, lit(null)).otherwise(ProductAgg.column(v))

  /** Exact product over cells that may carry DUPLICATE coordinates along the
    * reduced dimension (a raw observation log not yet normalised to one cell
    * per coordinate): duplicates of the same `dim` label collapse to their
    * min value and the distinct-label product is taken, all inside ONE
    * aggregation pass — one shuffle, vs. the naive dedup-groupBy followed by
    * a product-groupBy (two full shuffles of the fact table).
    *
    * Shape: collect the (label, value) cells, sort them (so each label-run
    * starts at its min), and fold with a run-skipping exact product. The
    * fold is an interpreted lambda, but it runs post-aggregation over one
    * small array per output group, not per fact row — the hot path (shuffle
    * + partial collect) stays native. `dim` must be castable to long;
    * `v` integer-valued with the running product under 2^62 (ANSI multiply).
    */
  def productExactDedupR(dim: Column, v: Column): Column = {
    val cells = sort_array(collect_list(struct(dim.cast("long").as("k"), v.cast("long").as("v"))))
    val folded = aggregate(
      cells,
      struct(lit(null).cast("long").as("k"), lit(1L).as("p")),
      (acc, x) => {
        val k = x.getField("k")
        when(k <=> acc.getField("k"), acc)
          .otherwise(struct(k.as("k"), (acc.getField("p") * x.getField("v")).as("p")))
      },
      acc => acc.getField("p"))
    when(count(v) === 0, lit(null)).otherwise(folded)
  }

  /** count(condition=null→valid values; =true→all; else caller passes a
    * predicate-filtered column) (reference: arrays.py:587-606).
    */
  def countValid(v: Column): Column = count(v)
  def countAll(): Column = count(lit(1))

  /** 3-valued any/all over boolean-ish values (reference: logic.py:58-87). */
  def anyR(v: Column, ignoreNodata: Boolean = true): Column = {
    val core = max(v.cast("boolean"))
    if (ignoreNodata) core
    else when(anyNull(v) && !coalesce(core, lit(false)), lit(null)).otherwise(core)
  }
  def allR(v: Column, ignoreNodata: Boolean = true): Column = {
    val core = min(v.cast("boolean"))
    if (ignoreNodata) core
    else when(anyNull(v) && coalesce(core, lit(true)), lit(null)).otherwise(core)
  }

  /** first/last along an ordering dimension. Spark's min_by/max_by give a
    * single-pass, shuffle-friendly equivalent of the reference's
    * scan-past-nodata (reference: arrays.py:461-495): null values are
    * skipped by nulling their order key (ignore_nodata=true, the default);
    * ignore_nodata=false takes the positionally first/last cell even when
    * null, which needs the value boxed in a struct so min_by can carry it.
    */
  def firstByOrder(v: Column, ord: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) min_by(v, when(v.isNotNull, ord))
    else min_by(struct(v.as("v")), ord).getField("v")
  def lastByOrder(v: Column, ord: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) max_by(v, when(v.isNotNull, ord))
    else max_by(struct(v.as("v")), ord).getField("v")
}
