package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** OpenEO array sub-language over Spark `ArrayType` columns — the payloads of
  * apply_dimension / reduce_dimension callbacks
  * (reference: openeo_processes_dask/process_implementations/arrays.py).
  *
  * Everything here is higher-order-function Column algebra (executor-side,
  * no UDFs); nothing materialises on the driver — unlike the
  * reference, whose sort/modify paths force `.compute()` above 50M elements
  * (reference: arrays.py:166-175,439-453,508-513).
  *
  * OpenEO indices are 0-based; Spark's element_at/array_position are
  * 1-based — converted at this boundary.
  */
object ArrayFns {

  /** take by 0-based index (reference: arrays.py:66-122). */
  def arrayElement(arr: Column, index: Int): Column = element_at(arr, index + 1)

  /** tile `repeat` times (reference: arrays.py:125-130). */
  def arrayCreate(data: Column, repeat: Int = 1): Column =
    flatten(array_repeat(data, repeat))

  /** labels→values map, guarded with the reference's named error when the
    * two lists disagree in length (reference: arrays.py:133-141).
    */
  def arrayCreateLabeled(data: Column, labels: Column): Column =
    when(size(labels) === size(data), map_from_arrays(labels, data))
      .otherwise(raise_error(lit("ArrayLengthMismatch: the number of " +
        "values in the parameters `data` and `labels` don't match")))

  /** splice: replace `length` elements at 0-based `index` with `values`;
    * an index beyond the array raises the reference's named error
    * (reference: arrays.py:144-186).
    */
  def arrayModify(arr: Column, values: Column, index: Int, length: Int): Column =
    when(lit(index) > size(arr), raise_error(lit(
      "ArrayElementNotAvailable: the array can't be modified as the " +
        "given index is larger than the number of elements in the array")))
      .otherwise(concat(slice(arr, 1, index), values,
        slice(arr, lit(index + length + 1), size(arr))))

  /** Labeled (map-backed) concat: shared labels are the reference's
    * ArrayLabelConflict (arrays.py:189-199); disjoint maps concatenate
    * keeping each side's insertion order.
    */
  def labeledConcat(a1: Column, a2: Column): Column =
    when(size(array_intersect(map_keys(a1), map_keys(a2))) > 0,
      raise_error(lit("ArrayLabelConflict: at least one label exists in " +
        "both arrays and the conflict must be resolved before")))
      .otherwise(map_concat(a1, a2))

  /** Labeled (map-backed) splice, via the entry list (map_from_arrays
    * preserves insertion order, so entries are positional): shared labels
    * raise ArrayLabelConflict, an out-of-range index raises
    * ArrayElementNotAvailable (reference: arrays.py:144-186).
    */
  def labeledModify(data: Column, values: Column, index: Int,
      length: Int): Column = {
    val d = map_entries(data); val v = map_entries(values)
    when(size(array_intersect(map_keys(data), map_keys(values))) > 0,
      raise_error(lit("ArrayLabelConflict: at least one label exists in " +
        "both arrays and the conflict must be resolved before")))
      .when(lit(index) > size(d), raise_error(lit(
        "ArrayElementNotAvailable: the array can't be modified as the " +
          "given index is larger than the number of elements in the array")))
      .otherwise(map_from_entries(concat(slice(d, 1, index), v,
        slice(d, lit(index + length + 1), size(d)))))
  }

  /** Labeled element access: a missing label raises the reference's
    * ArrayElementNotAvailable unless `returnNodata` (arrays.py:100-121).
    */
  def labeledElement(m: Column, label: Column,
      returnNodata: Boolean = false): Column =
    if (returnNodata) element_at(m, label)
    else when(map_contains_key(m, label), element_at(m, label))
      .otherwise(raise_error(lit("ArrayElementNotAvailable: the array " +
        "has no element with the specified label")))

  /** reference: arrays.py:228-265. */
  def arrayAppend(arr: Column, value: Column): Column = concat(arr, array(value))

  /** membership; null → false (reference: arrays.py:268-282). */
  def arrayContains(arr: Column, value: Column): Column =
    coalesce(array_contains(arr, value), lit(false))

  /** 0-based index of first match, null when absent
    * (reference: arrays.py:285-324; `reverse=true` finds the last match).
    */
  def arrayFind(arr: Column, value: Column, reverse: Boolean = false): Column = {
    val a = if (reverse) org.apache.spark.sql.functions.reverse(arr) else arr
    val pos1 = array_position(a, value) // 1-based, 0 when absent
    val idx = when(pos1 === 0, lit(null)).otherwise(pos1 - 1)
    if (reverse) when(idx.isNotNull, size(arr) - 1 - idx).otherwise(lit(null)) else idx
  }

  /** 0-based index of first element satisfying `pred`, null when absent —
    * the predicate form of array_find used by filter/find callbacks.
    */
  def arrayFindWhere(arr: Column, pred: Column => Column): Column = {
    val pos1 = array_position(transform(arr, x => pred(x)), lit(true))
    when(pos1 === 0, lit(null)).otherwise(pos1 - 1)
  }

  /** 0-based index of a label in a label array, null when absent
    * (reference: arrays.py:327-334).
    */
  def arrayFindLabel(labels: Column, label: Column): Column = {
    val pos1 = array_position(labels, label)
    when(pos1 === 0, lit(null)).otherwise(pos1 - 1)
  }

  /** labels, else 0..n-1 (reference: arrays.py:370-384). */
  def arrayLabels(arr: Column): Column = sequence(lit(0), size(arr) - 1)

  /** map a scalar callback over elements (reference: arrays.py:387-402). */
  def arrayApply(arr: Column, fn: Column => Column): Column = transform(arr, fn)

  /** filter by predicate callback (reference: arrays.py:337-367). */
  def arrayFilter(arr: Column, pred: Column => Column): Column =
    filter(arr, x => pred(x))

  /** any element truthy (used by callbacks; see Reducers.anyR for the
    * reducer form).
    */
  def arrayAny(arr: Column, pred: Column => Column): Column =
    exists(arr, x => pred(x))

  /** sorted copy; nodata placement: numpy keeps NaN at the END for BOTH
    * directions (reference: arrays.py:558-584). Ascending matches Spark's
    * native array_sort; descending needs a comparator (reverse(array_sort)
    * would move nulls to the front).
    */
  def arraySort(arr: Column, ascending: Boolean = true): Column =
    if (ascending) array_sort(arr)
    else array_sort(arr, (l, r) =>
      when(l.isNull && r.isNull, lit(0))
        .when(l.isNull, lit(1))
        .when(r.isNull, lit(-1))
        .when(l < r, lit(1)).when(l > r, lit(-1)).otherwise(lit(0)))

  /** permute along the array by a 0-based index array
    * (reference: arrays.py:538-555).
    */
  def rearrange(arr: Column, order: Column): Column =
    transform(order, i => element_at(arr, i.cast("int") + 1))

  /** exact fold-sum for integer-valued arrays (order-independent while the
    * running sum is < 2^53).
    */
  def arraySumExact(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + x.cast("long"))

  /** `order`: the 0-based permutation that sorts the array — numpy argsort
    * with stable ties (reference: arrays.py:510-535). Nulls are removed
    * (the process' nodata=null default).
    */
  def orderIndices(arr: Column, ascending: Boolean = true): Column = {
    val paired = filter(
      zip_with(arr, sequence(lit(0), size(arr) - 1),
        (v, i) => struct(v.as("v"), i.as("i"))),
      s => s.getField("v").isNotNull)
    val sorted = array_sort(paired, (l, r) => {
      val (lv, rv) = (l.getField("v"), r.getField("v"))
      val tie = when(l.getField("i") < r.getField("i"), lit(-1)).otherwise(lit(1))
      if (ascending) when(lv < rv, lit(-1)).when(lv > rv, lit(1)).otherwise(tie)
      else when(lv < rv, lit(1)).when(lv > rv, lit(-1)).otherwise(tie)
    })
    transform(sorted, _.getField("i"))
  }

  // ---- ARRAY forms of the statistical reducers ----
  // openEO's general reducer semantics hand the callback the labeled value
  // ARRAY along the reduced dimension (the published EVI example indexes it
  // with array_element); when a reduce callback composes beyond one plain
  // aggregate, [[graft.core.DataCube.series]] builds that array per series
  // and these scalar folds evaluate the callback.
  // Null handling mirrors the aggregate twins (ignore_nodata = true):
  // nulls are skipped, an all-null/empty array yields null. All are Spark
  // builtins and higher-order functions (interpreted, but no UDFs).

  private def nonNull(arr: Column): Column = filter(arr, _.isNotNull)

  def arraySum(arr: Column): Column = {
    val nn = nonNull(arr)
    when(size(nn) === 0, lit(null))
      .otherwise(aggregate(nn, lit(0.0), (a, x) => a + x.cast("double")))
  }

  def arrayProduct(arr: Column): Column = {
    val nn = nonNull(arr)
    when(size(nn) === 0, lit(null))
      .otherwise(aggregate(nn, lit(1.0), (a, x) => a * x.cast("double")))
  }

  def arrayMean(arr: Column): Column = {
    val nn = nonNull(arr)
    when(size(nn) === 0, lit(null)).otherwise(
      aggregate(nn, lit(0.0), (a, x) => a + x.cast("double")) / size(nn))
  }

  def arrayMin(arr: Column): Column = array_min(arr) // builtin skips nulls
  def arrayMax(arr: Column): Column = array_max(arr)
  def arrayCountValid(arr: Column): Column = size(nonNull(arr))

  def arrayMedian(arr: Column): Column = {
    val sa = sort_array(nonNull(arr))
    val n = size(sa)
    // Column `/` is fractional division — element_at needs INT ordinals
    val mid = ((n + 1) / 2).cast("int")
    val lo = (n / 2).cast("int")
    when(n === 0, lit(null))
      .when(n % 2 === 1, element_at(sa, mid).cast("double"))
      .otherwise((element_at(sa, lo).cast("double") +
        element_at(sa, lo + 1).cast("double")) / 2.0)
  }

  /** Sample variance (ddof = 1, the openEO/reference convention). */
  def arrayVariance(arr: Column): Column = {
    val nn = nonNull(arr)
    val n = size(nn)
    val m = arrayMean(arr)
    when(n < 2, lit(null)).otherwise(
      aggregate(nn, lit(0.0),
        (a, x) => a + (x.cast("double") - m) * (x.cast("double") - m)) / (n - 1))
  }

  def arraySd(arr: Column): Column = sqrt(arrayVariance(arr))

  /** Quantiles over an array — linear interpolation on the sorted
    * non-null values (h = p·(n−1)), the same estimator Spark's
    * `percentile` aggregate and numpy's default use, so the array fold
    * and the aggregate twin agree bit-for-bit on the same group.
    */
  def arrayQuantiles(arr: Column, probabilities: Seq[Double]): Column = {
    val sa = sort_array(nonNull(arr))
    val n = size(sa)
    val qs = probabilities.map { p =>
      val h = (n - 1).cast("double") * p
      val lo = floor(h).cast("int")
      val base = element_at(sa, lo + 1).cast("double")
      base + (h - lo) * (element_at(sa, least(lo + 2, n)).cast("double") - base)
    }
    when(n === 0, lit(null)).otherwise(array(qs: _*))
  }

  def arrayExtrema(arr: Column): Column = array(array_min(arr), array_max(arr))

  def arrayAnyTrue(arr: Column, ignoreNodata: Boolean = true): Column = {
    val nn = nonNull(arr)
    val anyTrue = exists(nn, x => x.cast("boolean"))
    when(size(nn) === 0, lit(null)).otherwise(
      if (ignoreNodata) anyTrue
      else when(anyTrue, lit(true)) // true dominates null
        .when(exists(arr, _.isNull), lit(null)).otherwise(lit(false)))
  }

  def arrayAllTrue(arr: Column, ignoreNodata: Boolean = true): Column = {
    val nn = nonNull(arr)
    val allNn = forall(nn, x => x.cast("boolean"))
    when(size(nn) === 0, lit(null))
      .otherwise(
        if (ignoreNodata) allNn
        else when(!allNn, lit(false))
          .when(exists(arr, _.isNull), lit(null)).otherwise(lit(true)))
  }

  /** first/last over an array (reference: arrays.py:461-508):
    * ignore_nodata skips nulls; the strict form reads the raw end cells.
    * `get`/size-guarded access returns null on an all-null array instead of
    * raising (ANSI-safe).
    */
  def arrayFirst(arr: Column, ignoreNodata: Boolean = true): Column =
    if (ignoreNodata) get(filter(arr, _.isNotNull), lit(0)) else get(arr, lit(0))
  def arrayLast(arr: Column, ignoreNodata: Boolean = true): Column = {
    if (ignoreNodata) {
      val nn = filter(arr, _.isNotNull)
      get(nn, size(nn) - 1)
    } else get(arr, size(arr) - 1)
  }

  // ---- array forms of the along-dimension processes (reference:
  // math.py:125-174 cumulative, arrays.py interpolate) — used when those
  // processes appear INSIDE an ordered-array callback (apply_dimension /
  // reduce_dimension graph callbacks), where `data` is the label-ordered
  // series array rather than a cube. Null contract mirrors the window
  // twins in WindowOps: null cells stay null, accumulation skips them.
  // These are left-to-right `aggregate` folds — interpreted HOFs whose
  // accumulator-array concat makes them O(n²) PER SERIES (measured: 88 s
  // at a 20k-label dim on the sf0.1 bench). The graph compiler therefore
  // only reaches them for callbacks that are NOT chains of window-class
  // and element-wise nodes (ProcessGraph.chainPlan compiles those to
  // O(n) window operators and projections), and a label-cardinality gate
  // refuses the fold above 8,192 labels; here n is
  // a genuinely small dimension cardinality (bands, months), never a
  // 10^5-label axis.

  private def emptyDoubles: Column = lit(Array.empty[Double])

  private def cumFold(arr: Column, init: Column,
      step: (Column, Column) => Column): Column = {
    val a = arr.cast("array<double>")
    aggregate(a,
      struct(init.as("s"), emptyDoubles.as("o")),
      (acc, x) => {
        val s = acc.getField("s")
        val s2 = step(s, x)
        struct(s2.as("s"),
          concat(acc.getField("o"),
            array(when(x.isNull, lit(null).cast("double"))
              .otherwise(s2))).as("o"))
      },
      _.getField("o"))
  }

  def arrayCumsum(arr: Column): Column =
    cumFold(arr, lit(0.0).cast("double"),
      (s, x) => s + coalesce(x, lit(0.0)))

  def arrayCumproduct(arr: Column): Column =
    cumFold(arr, lit(1.0).cast("double"),
      (s, x) => s * coalesce(x, lit(1.0)))

  def arrayCummin(arr: Column): Column =
    cumFold(arr, lit(null).cast("double"),
      (s, x) => when(x.isNull, s).otherwise(least(s, x))) // least skips null s

  def arrayCummax(arr: Column): Column =
    cumFold(arr, lit(null).cast("double"),
      (s, x) => when(x.isNull, s).otherwise(greatest(s, x)))

  /** Linear interpolation of interior nulls by POSITION (the array form's
    * coordinate, reference arrays.py); boundary nulls (no valid neighbor on
    * one side) stay null — same fill rule as WindowOps.interpolateLinear.
    * Two O(n) fill folds (forward + reversed) carrying the nearest valid
    * (value, position) pair, then an element-wise blend.
    */
  def arrayInterpolateLinear(arr: Column): Column = {
    val a = arr.cast("array<double>")
    val idx = sequence(lit(0), size(a) - 1).cast("array<double>")
    val pairs = zip_with(a, idx, (v, i) => struct(v.as("v"), i.as("x")))
    def runFill(ps: Column): Column = aggregate(ps,
      struct(
        struct(lit(null).cast("double").as("v"),
          lit(null).cast("double").as("x")).as("last"),
        filter(ps, _ => lit(false)).as("o")),
      (acc, e) => {
        val nl = when(e.getField("v").isNull, acc.getField("last"))
          .otherwise(e)
        struct(nl.as("last"), concat(acc.getField("o"), array(nl)).as("o"))
      },
      _.getField("o"))
    val prevs = runFill(pairs)
    val nexts = reverse(runFill(reverse(pairs)))
    val pn = zip_with(prevs, nexts, (p, n) => struct(p.as("p"), n.as("n")))
    zip_with(pairs, pn, (e, x) => {
      val (v, pos) = (e.getField("v"), e.getField("x"))
      val (pv, px) = (x.getField("p").getField("v"), x.getField("p").getField("x"))
      val (nv, nx) = (x.getField("n").getField("v"), x.getField("n").getField("x"))
      when(v.isNotNull, v).otherwise(pv + (nv - pv) * (pos - px) / (nx - px))
    })
  }
}
