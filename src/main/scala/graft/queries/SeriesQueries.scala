package graft.queries

import graft.core._
import graft.functions.ArrayFns
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness queries for along-dimension processes (SURVEY.md §2.5, §2.8),
  * band indices, kernels and curve fitting — the series-shaped half of the
  * operator inventory. Same float-determinism discipline as CubeQueries.
  */
object SeriesQueries {

  private def cents(c: Column): Column = round(c * 100).cast("bigint")

  /** events as an (eid, band) cube of integer cents; `maskMod` nulls every
    * k-th event to exercise nodata paths.
    */
  private def eidCube(s: SparkSession, dir: String, maskMod: Int = 0): DataCube = {
    val base = Tables.events(s, dir).select(
      col("event_id").as("eid"), col("event_type").as("band"),
      cents(col("value")).as("value"))
    val df = if (maskMod > 0)
      base.withColumn("value",
        when(col("eid") % maskMod === 0, lit(null)).otherwise(col("value")))
    else base
    DataCube.fromTable(df, Seq("eid", "band"), "value",
      Map("eid" -> DimType.Other, "band" -> DimType.Bands))
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- cumulative (§2.4) ----
    "cumsum" -> { (s, dir) =>
      WindowOps.cumsum(eidCube(s, dir, maskMod = 10), "eid")
        .df.select(col("band"), col("eid"), col("value").as("cum"))
    },
    "cummax" -> { (s, dir) =>
      WindowOps.cummax(eidCube(s, dir, maskMod = 10), "eid")
        .df.select(col("band"), col("eid"), col("value").as("cum"))
    },

    // ---- order / sort (§2.5) ----
    "cummin_cumprod" -> { (s, dir) =>
      // exact cumulative product over small per-order groups (1+tax cents),
      // plus cummin over the same series
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("okey"), col("l_linenumber").as("ln"))
        .agg((round(min(col("l_tax")) * 100) + 100).cast("long").as("value"))
      // both cumulatives share ONE window spec: a single shuffle+sort pass
      // computes them side by side (the earlier shape windowed two copies
      // of the cube and joined them back — an extra sort and a join for
      // nothing)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("okey")).orderBy(col("ln"))
        .rowsBetween(Window.unboundedPreceding, 0)
      base.select(col("okey"), col("ln"),
        when(col("value").isNull, lit(null))
          .otherwise(graft.functions.ProductAgg.column(col("value")).over(w))
          .as("cumprod"),
        min(col("value")).over(w).as("cummin"))
    },
    "order" -> { (s, dir) =>
      WindowOps.orderRank(eidCube(s, dir, maskMod = 10), "eid")
        .df.select(col("band"), col("eid"), col("rank"))
    },
    "sort" -> { (s, dir) =>
      WindowOps.sortAlong(eidCube(s, dir, maskMod = 10), "eid")
        .df.select(col("band"), col("eid"), col("value").as("sorted_cents"))
    },
    "first_last" -> { (s, dir) =>
      WindowOps.firstLast(eidCube(s, dir, maskMod = 10), "eid")
        .select(col("band"), col("first_v"), col("last_v"))
    },

    // ---- rolling window (§2.5) ----
    "apply_neighborhood" -> { (s, dir) =>
      val r = WindowOps.applyNeighborhood(eidCube(s, dir), "eid",
        before = 2, after = 0, v => avg(v))
      r.df.select(col("band"), col("eid"), col("value").as("roll_avg"))
    },

    // ---- gap fill (§2.8) ----
    "array_interpolate_linear" -> { (s, dir) =>
      WindowOps.interpolateLinear(eidCube(s, dir, maskMod = 7), "eid")
        .df.select(col("band"), col("eid"), col("value").as("interp"))
    },

    // ---- apply_dimension, window-class callback (§2.7) ----
    "apply_dimension_center" -> { (s, dir) =>
      val centered = ApplyOps.applyDimensionWindow(eidCube(s, dir), "eid",
        (v, w) => {
          val full = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
          v - sum(v).over(full) / count(v).over(full).cast("double")
        })
      centered.df.select(col("band"), col("eid"), col("value").as("centered"))
    },
    // ---- apply_dimension, array-class callback (§2.7) ----
    "apply_dimension_delta" -> { (s, dir) =>
      val delta = ApplyOps.applyDimensionArrayWith(eidCube(s, dir), "eid",
        pre = Seq(arr => element_at(arr, 1)),
        (arr, helpers) => transform(arr, x => x - helpers.head))
      delta.df.select(col("band"), col("eid"), col("value").as("delta"))
    },

    // ---- apply_dimension, composed array-callback GRAPH arm (§2.7/§2.11):
    // a wire process graph whose apply_dimension callback MIXES array
    // processes and element-wise scalars (gap-fill → ×2 → running max →
    // +7 along the series) — exercises the ordered-array callback
    // contract end-to-end through the graph entry point AND the mixed
    // window-chain compiler (scalar steps become projections between the
    // window operators; one series shuffle total). cummax (not cumsum)
    // keeps every step order-independent for the oracle: interpolated
    // values can be non-representable fractions, and a running MAX of
    // them is accumulation-order free while a running sum is not; ×2 and
    // +7 are exact on doubles. ----
    "apply_dimension_graph" -> { (s, dir) =>
      val graph =
        """{"process_graph": {
          |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
          |  "d": {"process_id": "apply_dimension",
          |        "arguments": {"data": {"from_node": "l"}, "dimension": "eid",
          |          "process": {"process_graph": {
          |            "i": {"process_id": "array_interpolate_linear",
          |                  "arguments": {"data": {"from_parameter": "data"}}},
          |            "s1": {"process_id": "multiply",
          |                   "arguments": {"x": {"from_node": "i"}, "y": 2}},
          |            "m": {"process_id": "cummax",
          |                  "arguments": {"data": {"from_node": "s1"}}},
          |            "s2": {"process_id": "add",
          |                   "arguments": {"x": {"from_node": "m"}, "y": 7},
          |                   "result": true}}}},
          |        "result": true}
          |}}""".stripMargin
      graft.plans.ProcessGraph.execute(s, graph,
        _ => eidCube(s, dir, maskMod = 7))
        .df.select(col("band"), col("eid"), col("value").as("cum"))
    },

    // ---- apply_dimension, broadcast side-branch GRAPH arm (§2.7):
    // subtract(data, mean(data)) — openEO's numpy broadcast of a
    // per-series statistic over the series. Compiles to a window
    // aggregate sharing the series partition (zero extra shuffle).
    // Values are integer cents, so Spark's avg (exact long partials
    // under 2^53) and the oracle's sum/count agree bit-for-bit. ----
    "apply_dimension_broadcast" -> { (s, dir) =>
      val graph =
        """{"process_graph": {
          |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
          |  "d": {"process_id": "apply_dimension",
          |        "arguments": {"data": {"from_node": "l"}, "dimension": "eid",
          |          "process": {"process_graph": {
          |            "me": {"process_id": "mean",
          |                   "arguments": {"data": {"from_parameter": "data"}}},
          |            "c":  {"process_id": "subtract",
          |                   "arguments": {"x": {"from_parameter": "data"},
          |                                 "y": {"from_node": "me"}},
          |                   "result": true}}}},
          |        "result": true}
          |}}""".stripMargin
      graft.plans.ProcessGraph.execute(s, graph,
        _ => eidCube(s, dir, maskMod = 10))
        .df.select(col("band"), col("eid"), col("value").as("centered"))
    },

    // ---- array sub-language HOFs (§2.8) ----
    "array_hofs" -> { (s, dir) =>
      val c = eidCube(s, dir)
      val filtered = FilterOps.filterLabels(c, "eid", l => l % 13 === 0)
      val arrs = filtered.series("eid").withColumnRenamed("_vals", "arr")
      arrs.select(
        col("band"),
        size(col("arr")).as("n"),
        ArrayFns.arraySumExact(slice(col("arr"), 1, 3)).as("first3_sum"),
        ArrayFns.arrayAny(col("arr"), x => x > 20000).as("has_gt"),
        ArrayFns.arrayFindWhere(col("arr"), x => x > 20000).cast("int").as("find_idx"),
        ArrayFns.arrayElement(reverse(col("arr")), 0).as("last_e"),
        ArrayFns.arrayContains(col("arr"), lit(12345L)).as("contains_v"),
        size(ArrayFns.arrayFilter(col("arr"), x => x > 20000)).as("n_filtered"),
        size(ArrayFns.arrayAppend(col("arr"), lit(0L))).as("appended_n"),
        ArrayFns.arraySumExact(
          ArrayFns.arrayModify(col("arr"), array(lit(0L)), 1, 2)).as("mod_sum"))
    },

    // ---- array constructors / labels / apply / rearrange / extrema (§2.8) ----
    "array_constructors" -> { (s, dir) =>
      val c = eidCube(s, dir)
      val filtered = FilterOps.filterLabels(c, "eid", l => l % 13 === 0)
      val arrs = filtered.series("eid").withColumnRenamed("_vals", "arr")
        .withColumn("_ex", ArrayFns.arrayExtrema(col("arr")))
      arrs.select(
        col("band"),
        // array_create: tile the first two elements twice → exact sum
        ArrayFns.arraySumExact(
          ArrayFns.arrayCreate(slice(col("arr"), 1, 2), 2)).as("created_sum"),
        // array_labels: 0..n-1 → closed-form checksum
        ArrayFns.arraySumExact(ArrayFns.arrayLabels(col("arr"))).as("labels_sum"),
        // array_apply: x*2+1 over the first 5 elements
        ArrayFns.arraySumExact(
          ArrayFns.arrayApply(slice(col("arr"), 1, 5), x => x * 2 + 1)).as("applied_sum"),
        // rearrange: [3,0] picks the 4th then 1st element
        element_at(ArrayFns.rearrange(col("arr"), array(lit(3), lit(0))), 1).as("rearr_first"),
        // array_create_labeled: map lookup by label
        element_at(ArrayFns.arrayCreateLabeled(
          slice(col("arr"), 1, 4), ArrayFns.arrayLabels(slice(col("arr"), 1, 4))),
          lit(2)).as("labeled_at_2"),
        // array_find_label over the 0..n-1 label array
        ArrayFns.arrayFindLabel(
          ArrayFns.arrayLabels(slice(col("arr"), 1, 4)), lit(2)).cast("int")
          .as("find_label_idx"),
        // extrema reducer: [min, max]
        element_at(col("_ex"), 1).as("ex_lo"),
        element_at(col("_ex"), 2).as("ex_hi"))
    },

    // ---- dim utilities without dedicated queries (§2.9) ----
    "dimension_labels" -> { (s, dir) =>
      val c = Tables.eventsCube(s, dir)
      val withModel = CubeDimOps.addDimension(c, "model", "m1")
      val dropped = CubeDimOps.dropDimension(withModel, "model")
      val renamed = CubeDimOps.renameDimension(dropped, "band", "bands")
      val inspected = graft.sources.CubeIO.inspect(renamed, "labels query")
      CubeDimOps.dimensionLabels(inspected, "bands")
    },

    // ---- band indices (§2.7) ----
    "ndvi" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("t"), col("event_type").as("band"))
        .agg(sum(cents(col("value"))).as("value"))
      val c = DataCube.fromTable(daily, Seq("t", "band"), "value")
      val nd = IndicesOps.ndvi(c, nir = "purchase", red = "click")
      nd.df.select(col("t").cast("date").as("t"), col("value").as("nd"))
    },

    // ---- domain composite (§2.11) ----
    "ddmc_composite" -> { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("t"), col("event_type").as("band"))
        .agg(sum(cents(col("value"))).as("value"))
      val c = DataCube.fromTable(daily, Seq("t", "band"), "value")
      val comp = CompositeOps.bandDifferenceComposite(c, "band",
        Seq("d1" -> ("purchase", "click"), "d2" -> ("signup", "error")))
      comp.df.select(col("t").cast("date").as("t"), col("band"),
        col("value").as("nd"))
    },

    // ---- 2-D kernel (§2.5) ----
    "apply_kernel" -> { (s, dir) =>
      val grid = Tables.events(s, dir)
        .groupBy((col("user_id") % 20).as("x"), (col("event_id") % 25).as("y"))
        .agg(sum(cents(col("value"))).as("value"))
      val c = DataCube.fromTable(grid, Seq("x", "y"), "value",
        Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
      val k = KernelOps.applyKernel(c,
        Seq(Seq(0, 1, 0), Seq(1, 4, 1), Seq(0, 1, 0)))
      k.df.select(col("x"), col("y"), col("value").cast("bigint").as("ksum"))
    },

    "apply_kernel_tiled" -> { (s, dir) =>
      // the SAME convolution through the tile-partitioned stencil (halo
      // exchange + per-tile map lookups, one shuffle, no kernel-size row
      // fan-out) — tileSize 8 puts seams through the 20×25 grid, so the
      // oracle match proves halo handling, not just the kernel math
      val grid = Tables.events(s, dir)
        .groupBy((col("user_id") % 20).as("x"), (col("event_id") % 25).as("y"))
        .agg(sum(cents(col("value"))).as("value"))
      val c = DataCube.fromTable(grid, Seq("x", "y"), "value",
        Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
      val k = KernelOps.applyKernelTiled(c,
        Seq(Seq(0, 1, 0), Seq(1, 4, 1), Seq(0, 1, 0)),
        KernelOps.Constant(0.0), 1.0, (0L, 19L), (0L, 24L), tileSize = 8)
      k.df.select(col("x"), col("y"), col("value").cast("bigint").as("ksum"))
    },

    // ---- RQA recurrence (§2.11) ----
    "rqa_recurrence" -> { (s, dir) =>
      WindowOps.recurrenceRate(eidCube(s, dir), "eid", eps = 500, maxLag = 10)
        .select(col("band"), col("n_recurrent"), col("n_pairs"),
          col("recurrence_rate"))
    },

    // ---- curve fitting (§2.11) ----
    "fit_curve" -> { (s, dir) =>
      CurveOps.fitLinear(eidCube(s, dir), "eid", exactIntMoments = true)
        .select(col("band"), col("a"), col("b"))
    },
    "predict_curve" -> { (s, dir) =>
      val params =
        CurveOps.fitLinear(eidCube(s, dir), "eid", exactIntMoments = true)
      CurveOps.predictLinear(params, Seq("band"), Seq(0.0, 5000.0, 10000.0), "x")
    },
    "fit_curve_harmonic" -> { (s, dir) =>
      // the reference's canonical per-series seasonal model, weekly period
      // over day-coordinates; basis quantized to exact integers (×1e4) so
      // the moment sums are order-independent across engines
      CurveOps.fitBasis2(tdayCube(s, dir), "t",
        x => floor(sin(x * HarmonicOmega) * 1e4),
        x => floor(cos(x * HarmonicOmega) * 1e4),
        coord = dayCoord, exactIntMoments = true)
        .select(col("band"), col("a"), col("b"), col("c"))
    },
    "predict_curve_harmonic" -> { (s, dir) =>
      val params = CurveOps.fitBasis2(tdayCube(s, dir), "t",
        x => floor(sin(x * HarmonicOmega) * 1e4),
        x => floor(cos(x * HarmonicOmega) * 1e4),
        coord = dayCoord, exactIntMoments = true)
      CurveOps.predictBasis2(params, Seq("band"), Seq(0.5, 3.25, 10.0, 17.75, 30.0),
        x => floor(sin(x * HarmonicOmega) * 1e4),
        x => floor(cos(x * HarmonicOmega) * 1e4))
    }
  )

  /** weekly angular frequency over day-units; the literal is interpolated
    * into the oracle SQL so both engines use the identical double.
    */
  private val HarmonicOmega: Double = 2 * math.Pi / 7

  /** days since 2024-01-01 (epoch-seconds arithmetic mirrors the oracle's
    * epoch_us(ts)/1e6 division bit-for-bit).
    */
  private def dayCoord(t: Column): Column =
    (t.cast("double") - lit(1.7040672e9)) / 86400.0

  /** events as a (t, band) cube of integer cents. */
  private def tdayCube(s: SparkSession, dir: String): DataCube = {
    val df = Tables.events(s, dir).select(
      col("ts").as("t"), col("event_type").as("band"),
      cents(col("value")).as("value"))
    DataCube.fromTable(df, Seq("t", "band"), "value",
      Map("t" -> DimType.Temporal, "band" -> DimType.Bands))
  }

  private val maskedCents =
    "CASE WHEN event_id % 10 = 0 THEN NULL ELSE CAST(round(value*100) AS BIGINT) END"

  val oracles: Map[String, String] = Map(
    "cummin_cumprod" ->
      """WITH b AS (SELECT l_orderkey AS okey, l_linenumber AS ln,
        |                  CAST(round(min(l_tax)*100) + 100 AS BIGINT) AS v
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT okey, ln,
        |  CAST(product(v) OVER (PARTITION BY okey ORDER BY ln
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumprod,
        |  min(v) OVER (PARTITION BY okey ORDER BY ln
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummin
        |FROM b""".stripMargin,
    "cumsum" ->
      s"""WITH c AS (SELECT event_type AS band, event_id AS eid, $maskedCents AS v FROM events)
         |SELECT band, eid,
         |  CASE WHEN v IS NULL THEN NULL ELSE
         |    sum(v) OVER (PARTITION BY band ORDER BY eid
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS cum
         |FROM c""".stripMargin,
    "cummax" ->
      s"""WITH c AS (SELECT event_type AS band, event_id AS eid, $maskedCents AS v FROM events)
         |SELECT band, eid,
         |  CASE WHEN v IS NULL THEN NULL ELSE
         |    max(v) OVER (PARTITION BY band ORDER BY eid
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS cum
         |FROM c""".stripMargin,
    "order" ->
      s"""WITH c AS (SELECT event_type AS band, event_id AS eid, $maskedCents AS v FROM events)
         |SELECT band, eid,
         |  row_number() OVER (PARTITION BY band ORDER BY v ASC NULLS LAST, eid) - 1 AS rank
         |FROM c""".stripMargin,
    "sort" ->
      s"""WITH c AS (SELECT event_type AS band, event_id AS eid, $maskedCents AS v FROM events),
         |pos AS (SELECT band, eid,
         |          row_number() OVER (PARTITION BY band ORDER BY eid) - 1 AS slot FROM c),
         |vals AS (SELECT band, v,
         |          row_number() OVER (PARTITION BY band ORDER BY v ASC NULLS LAST, eid) - 1 AS slot FROM c)
         |SELECT pos.band, pos.eid, vals.v AS sorted_cents
         |FROM pos JOIN vals ON pos.band = vals.band AND pos.slot = vals.slot""".stripMargin,
    "first_last" ->
      s"""WITH c AS (SELECT event_type AS band, event_id AS eid, $maskedCents AS v FROM events)
         |SELECT band,
         |  first(v ORDER BY eid) FILTER (WHERE v IS NOT NULL) AS first_v,
         |  last(v ORDER BY eid) FILTER (WHERE v IS NOT NULL) AS last_v
         |FROM c GROUP BY band""".stripMargin,
    "apply_neighborhood" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v FROM events)
        |SELECT band, eid,
        |       avg(v) OVER (PARTITION BY band ORDER BY eid
        |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_avg
        |FROM c""".stripMargin,
    "array_interpolate_linear" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE CAST(round(value*100) AS BIGINT) END AS v
        |  FROM events),
        |w AS (SELECT band, eid, v,
        |  last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY band ORDER BY eid ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN CAST(eid AS DOUBLE) END IGNORE NULLS) OVER
        |    (PARTITION BY band ORDER BY eid ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
        |  first_value(v IGNORE NULLS) OVER
        |    (PARTITION BY band ORDER BY eid ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN CAST(eid AS DOUBLE) END IGNORE NULLS) OVER
        |    (PARTITION BY band ORDER BY eid ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
        |  FROM c)
        |SELECT band, eid,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |       ELSE pv + (nv - pv) * (CAST(eid AS DOUBLE) - px) / (nx - px) END AS interp
        |FROM w""".stripMargin,
    "apply_dimension_center" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v FROM events)
        |SELECT band, eid, v - sum(v) OVER (PARTITION BY band) / CAST(count(v) OVER (PARTITION BY band) AS DOUBLE) AS centered
        |FROM c""".stripMargin,
    "apply_dimension_delta" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v FROM events)
        |SELECT band, eid,
        |       v - first_value(v) OVER (PARTITION BY band ORDER BY eid) AS delta
        |FROM c""".stripMargin,
    "apply_dimension_graph" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE CAST(round(value*100) AS BIGINT) END AS v FROM events),
        |p AS (SELECT band, eid, CAST(v AS DOUBLE) AS v,
        |  CAST(row_number() OVER (PARTITION BY band ORDER BY eid) - 1 AS DOUBLE) AS x
        |  FROM c),
        |f AS (SELECT band, eid,
        |  CASE WHEN v IS NOT NULL THEN v
        |       ELSE last_value(v IGNORE NULLS) OVER pw
        |            + (first_value(v IGNORE NULLS) OVER nw
        |               - last_value(v IGNORE NULLS) OVER pw)
        |            * (x - last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER pw)
        |            / (first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER nw
        |               - last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER pw)
        |  END AS fv
        |  FROM p
        |  WINDOW pw AS (PARTITION BY band ORDER BY eid),
        |         nw AS (PARTITION BY band ORDER BY eid
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT band, eid,
        |  CASE WHEN fv IS NULL THEN NULL
        |       ELSE max(fv * 2) OVER (PARTITION BY band ORDER BY eid) + 7 END AS cum
        |FROM f""".stripMargin,
    "apply_dimension_broadcast" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |  CASE WHEN event_id % 10 = 0 THEN NULL
        |       ELSE CAST(round(value*100) AS BIGINT) END AS v FROM events)
        |SELECT band, eid,
        |  v - sum(v) OVER w / CAST(count(v) OVER w AS DOUBLE) AS centered
        |FROM c WINDOW w AS (PARTITION BY band)""".stripMargin,
    "array_hofs" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v
        |           FROM events WHERE event_id % 13 = 0),
        |a AS (SELECT band, list(v ORDER BY eid) AS arr FROM c GROUP BY band)
        |SELECT band,
        |  len(arr) AS n,
        |  CAST(list_aggregate(arr[1:3], 'sum') AS BIGINT) AS first3_sum,
        |  len(list_filter(arr, x -> x > 20000)) > 0 AS has_gt,
        |  CAST(NULLIF(COALESCE(list_position(list_transform(arr, x -> x > 20000), true), 0), 0) - 1 AS INTEGER) AS find_idx,
        |  arr[len(arr)] AS last_e,
        |  list_contains(arr, 12345) AS contains_v,
        |  len(list_filter(arr, x -> x > 20000)) AS n_filtered,
        |  len(arr) + 1 AS appended_n,
        |  CAST(list_aggregate(arr, 'sum') - arr[2] - arr[3] AS BIGINT) AS mod_sum
        |FROM a""".stripMargin,
    "ndvi" ->
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS t, event_type,
        |                  sum(CAST(round(value*100) AS BIGINT)) AS v
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT t,
        |        max(CASE WHEN event_type = 'purchase' THEN v END) AS nir,
        |        max(CASE WHEN event_type = 'click' THEN v END) AS red
        |      FROM d GROUP BY t)
        |SELECT t, (nir - red) / CAST(nir + red AS DOUBLE) AS nd FROM p""".stripMargin,
    "array_constructors" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v
        |           FROM events WHERE event_id % 13 = 0),
        |a AS (SELECT band, list(v ORDER BY eid) AS arr,
        |             min(v) AS ex_lo, max(v) AS ex_hi FROM c GROUP BY band)
        |SELECT band,
        |  CAST(2 * (arr[1] + arr[2]) AS BIGINT) AS created_sum,
        |  CAST(len(arr) * (len(arr) - 1) / 2 AS BIGINT) AS labels_sum,
        |  CAST(list_aggregate(list_transform(arr[1:5], x -> x * 2 + 1), 'sum') AS BIGINT) AS applied_sum,
        |  arr[4] AS rearr_first,
        |  arr[3] AS labeled_at_2,
        |  CAST(2 AS INT) AS find_label_idx,
        |  ex_lo, ex_hi
        |FROM a""".stripMargin,
    "dimension_labels" ->
      """SELECT DISTINCT event_type AS label FROM events ORDER BY 1""".stripMargin,
    "ddmc_composite" ->
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS t, event_type,
        |                  sum(CAST(round(value*100) AS BIGINT)) AS v
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT t,
        |        max(CASE WHEN event_type = 'purchase' THEN v END) AS pu,
        |        max(CASE WHEN event_type = 'click' THEN v END) AS cl,
        |        max(CASE WHEN event_type = 'signup' THEN v END) AS su,
        |        max(CASE WHEN event_type = 'error' THEN v END) AS er
        |      FROM d GROUP BY t)
        |SELECT t, 'd1' AS band, (pu - cl) / CAST(pu + cl AS DOUBLE) AS nd FROM p
        |UNION ALL
        |SELECT t, 'd2' AS band, (su - er) / CAST(su + er AS DOUBLE) AS nd FROM p""".stripMargin,
    "apply_kernel" ->
      """WITH g AS (SELECT user_id % 20 AS x, event_id % 25 AS y,
        |                  sum(CAST(round(value*100) AS BIGINT)) AS v
        |           FROM events GROUP BY 1, 2),
        |k(dx, dy, w) AS (VALUES (0,-1,1),(-1,0,1),(0,0,4),(1,0,1),(0,1,1))
        |SELECT g.x, g.y, CAST(sum(n.v * k.w) AS BIGINT) AS ksum
        |FROM g CROSS JOIN k JOIN g n ON n.x = g.x + k.dx AND n.y = g.y + k.dy
        |GROUP BY 1, 2""".stripMargin,
    "apply_kernel_tiled" ->
      // identical semantics to apply_kernel: dense grid + center weight ⇒
      // every cell emits on both the join and stencil paths
      """WITH g AS (SELECT user_id % 20 AS x, event_id % 25 AS y,
        |                  sum(CAST(round(value*100) AS BIGINT)) AS v
        |           FROM events GROUP BY 1, 2),
        |k(dx, dy, w) AS (VALUES (0,-1,1),(-1,0,1),(0,0,4),(1,0,1),(0,1,1))
        |SELECT g.x, g.y, CAST(sum(n.v * k.w) AS BIGINT) AS ksum
        |FROM g CROSS JOIN k JOIN g n ON n.x = g.x + k.dx AND n.y = g.y + k.dy
        |GROUP BY 1, 2""".stripMargin,
    "rqa_recurrence" ->
      """WITH c AS (SELECT event_type AS band, event_id AS eid,
        |                  CAST(round(value*100) AS BIGINT) AS v FROM events),
        |l AS (SELECT band, v,
        |  lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2, lag(v, 3) OVER w AS l3,
        |  lag(v, 4) OVER w AS l4, lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
        |  lag(v, 7) OVER w AS l7, lag(v, 8) OVER w AS l8, lag(v, 9) OVER w AS l9,
        |  lag(v, 10) OVER w AS l10
        |  FROM c WINDOW w AS (PARTITION BY band ORDER BY eid)),
        |p AS (SELECT band,
        |  (CASE WHEN abs(v-l1) < 500 THEN 1 ELSE 0 END + CASE WHEN abs(v-l2) < 500 THEN 1 ELSE 0 END
        |   + CASE WHEN abs(v-l3) < 500 THEN 1 ELSE 0 END + CASE WHEN abs(v-l4) < 500 THEN 1 ELSE 0 END
        |   + CASE WHEN abs(v-l5) < 500 THEN 1 ELSE 0 END + CASE WHEN abs(v-l6) < 500 THEN 1 ELSE 0 END
        |   + CASE WHEN abs(v-l7) < 500 THEN 1 ELSE 0 END + CASE WHEN abs(v-l8) < 500 THEN 1 ELSE 0 END
        |   + CASE WHEN abs(v-l9) < 500 THEN 1 ELSE 0 END + CASE WHEN abs(v-l10) < 500 THEN 1 ELSE 0 END) AS rec,
        |  (CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN l4 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN l5 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN l6 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN l8 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN l9 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN l10 IS NOT NULL THEN 1 ELSE 0 END) AS valid
        |  FROM l)
        |SELECT band, CAST(sum(rec) AS BIGINT) AS n_recurrent,
        |       CAST(sum(valid) AS BIGINT) AS n_pairs,
        |       sum(rec) / CAST(sum(valid) AS DOUBLE) AS recurrence_rate
        |FROM p GROUP BY 1""".stripMargin,
    // fit/predict_curve moments sum EXACT integers on both engines
    // (DuckDB BIGINT sums are HUGEINT-exact; Spark sums decimal(38,0)) —
    // parallel double sums went order-dependent past 2^53 at the sf1 axis
    "fit_curve" ->
      """WITH c AS (SELECT event_type AS band, CAST(event_id AS BIGINT) AS x,
        |                  CAST(round(value*100) AS BIGINT) AS y FROM events),
        |m AS (SELECT band, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |             CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
        |      FROM c GROUP BY band)
        |SELECT band,
        |  (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a,
        |  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b
        |FROM m""".stripMargin,
    "predict_curve" ->
      """WITH c AS (SELECT event_type AS band, CAST(event_id AS BIGINT) AS x,
        |                  CAST(round(value*100) AS BIGINT) AS y FROM events),
        |m AS (SELECT band, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |             CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
        |      FROM c GROUP BY band),
        |p AS (SELECT band,
        |        (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a,
        |        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b
        |      FROM m)
        |SELECT band, t.x, a + b * t.x AS value
        |FROM p CROSS JOIN (VALUES (CAST(0 AS DOUBLE)), (CAST(5000 AS DOUBLE)),
        |                          (CAST(10000 AS DOUBLE))) t(x)""".stripMargin,
    "fit_curve_harmonic" ->
      (harmonicParamsSql + "\nSELECT band, a, b, c FROM p"),
    "predict_curve_harmonic" ->
      (harmonicParamsSql + s"""
         |SELECT band, t.x,
         |  a + b * floor(sin(t.x * ${OracleSql.d(HarmonicOmega)}) * 10000)
         |    + c * floor(cos(t.x * ${OracleSql.d(HarmonicOmega)}) * 10000) AS value
         |FROM p CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (CAST(3.25 AS DOUBLE)),
         |  (CAST(10.0 AS DOUBLE)), (CAST(17.75 AS DOUBLE)),
         |  (CAST(30.0 AS DOUBLE))) t(x)""".stripMargin)
  )

  /** Shared harmonic-fit CTE chain: quantized basis, exact integer moments,
    * Cramer solve written with the same association order as
    * CurveOps.fitBasis2 so every double is bit-identical.
    */
  private def harmonicParamsSql: String =
    s"""WITH c AS (SELECT event_type AS band,
       |    (epoch_us(ts) / 1000000.0 - 1704067200.0) / 86400.0 AS u,
       |    CAST(round(value*100) AS BIGINT) AS y FROM events),
       |b AS (SELECT band, y,
       |    floor(sin(u * ${OracleSql.d(HarmonicOmega)}) * 10000) AS s,
       |    floor(cos(u * ${OracleSql.d(HarmonicOmega)}) * 10000) AS t FROM c),
       |m AS (SELECT band, CAST(count(*) AS DOUBLE) AS n,
       |    sum(s) AS ss, sum(t) AS sc, sum(s*s) AS sss, sum(t*t) AS scc,
       |    sum(s*t) AS ssc, sum(y) AS sy, sum(y*s) AS sys, sum(y*t) AS syc
       |  FROM b GROUP BY 1),
       |p AS (SELECT band,
       |  (sy*(sss*scc - ssc*ssc) - ss*(sys*scc - ssc*syc) + sc*(sys*ssc - sss*syc))
       |    / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)) AS a,
       |  (n*(sys*scc - ssc*syc) - sy*(ss*scc - ssc*sc) + sc*(ss*syc - sys*sc))
       |    / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)) AS b,
       |  (n*(sss*syc - sys*ssc) - ss*(ss*syc - sys*sc) + sy*(ss*ssc - sss*sc))
       |    / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)) AS c
       |  FROM m)""".stripMargin
}
