package graft

import graft.core._
import graft.plans.ProcessGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Published openEO example process graphs executed VERBATIM (shapes from
  * the public openEO API documentation and cookbook — the EVI example, the
  * max-NDVI composite with label band access, scaling, cloud-style
  * masking, monthly composites), with every output pinned against
  * independently-computed plain-Scala arithmetic. Only collection ids,
  * extents and constants are fixture-sized; node layout, argument names
  * and callback graphs match the published shapes. These are the
  * conformance fixtures that caught the general reducer semantics gap:
  * an openEO reducer callback receives the labeled ARRAY along the
  * reduced dimension, not just a fold.
  */
class GraphConformanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  // 3 dates x 3 bands x 2x2 pixels; ti = date index. B02=blue, B04=red,
  // B08=nir (lexicographic label order = blue, red, nir = indices 0,1,2).
  private val dates =
    Seq("2024-01-05 00:00:00", "2024-01-20 00:00:00", "2024-03-01 00:00:00")
  private def blue(x: Int, y: Int, ti: Int): Double = 1.0 + x
  private def red(x: Int, y: Int, ti: Int): Double = 3.0 + y + ti
  private def nir(x: Int, y: Int, ti: Int): Double = 8.0 + x + y + 2 * ti

  private def cube: DataCube = {
    val rows = for {
      (d, ti) <- dates.zipWithIndex
      (b, f) <- Seq[(String, (Int, Int, Int) => Double)](
        ("B02", blue), ("B04", red), ("B08", nir))
      y <- 0 to 1; x <- 0 to 1
    } yield (d, b, y.toDouble, x.toDouble, f(x, y, ti))
    val df = rows.toDF("t", "bands", "y", "x", "value")
      .withColumn("t", to_timestamp(col("t")))
    DataCube.fromTable(df, Seq("t", "bands", "y", "x"), "value")
  }

  private def run(graph: String): DataCube =
    ProcessGraph.execute(spark, graph, _ => cube)

  private def evi(x: Int, y: Int, ti: Int): Double = {
    val (b, r, n) = (blue(x, y, ti), red(x, y, ti), nir(x, y, ti))
    2.5 * ((n - r) / (n + 6 * r - 7.5 * b + 1))
  }
  private def ndvi(x: Int, y: Int, ti: Int): Double = {
    val (r, n) = (red(x, y, ti), nir(x, y, ti))
    (n - r) / (n + r)
  }

  test("published EVI example: band math via array_element, min-time composite") {
    // the openEO API documentation's canonical EVI process graph —
    // node ids, callback layout and the mixed-literal sum argument kept
    // verbatim; extents sized to the fixture
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {
        |    "id": "sentinel2_subset",
        |    "spatial_extent": {"west": -0.5, "south": -0.5, "east": 1.5, "north": 1.5},
        |    "temporal_extent": ["2024-01-01", "2024-02-01"],
        |    "bands": ["B02", "B04", "B08"]}},
        |  "evi": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "load"}, "dimension": "bands",
        |    "reducer": {"process_graph": {
        |      "nir": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 2}},
        |      "red": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 1}},
        |      "blue": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 0}},
        |      "sub": {"process_id": "subtract", "arguments": {"x": {"from_node": "nir"}, "y": {"from_node": "red"}}},
        |      "p1": {"process_id": "multiply", "arguments": {"x": {"from_node": "red"}, "y": 6}},
        |      "p2": {"process_id": "multiply", "arguments": {"x": {"from_node": "blue"}, "y": -7.5}},
        |      "sum": {"process_id": "sum", "arguments": {"data": [1, {"from_node": "nir"}, {"from_node": "p1"}, {"from_node": "p2"}]}},
        |      "div": {"process_id": "divide", "arguments": {"x": {"from_node": "sub"}, "y": {"from_node": "sum"}}},
        |      "p3": {"process_id": "multiply", "arguments": {"x": {"from_node": "div"}, "y": 2.5}, "result": true}
        |    }}}},
        |  "mintime": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "evi"}, "dimension": "t",
        |    "reducer": {"process_graph": {
        |      "min": {"process_id": "min", "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}}},
        |  "save": {"process_id": "save_result", "arguments": {
        |    "data": {"from_node": "mintime"}, "format": "GTiff"}, "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // the March date is filtered; min over the two January dates
    val want = (for (y <- 0 to 1; x <- 0 to 1)
      yield (y.toDouble, x.toDouble) ->
        math.min(evi(x, y, 0), evi(x, y, 1))).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"$k")
  }

  test("published max-NDVI composite: label band access + normalized_difference") {
    // the openEO 'Getting started' max-NDVI composite: bands addressed by
    // LABEL in the reducer, then a max composite over time
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {
        |    "id": "sentinel2_subset",
        |    "temporal_extent": ["2024-01-01", null],
        |    "bands": ["B04", "B08"]}},
        |  "ndvi": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "load"}, "dimension": "bands",
        |    "reducer": {"process_graph": {
        |      "red": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "label": "B04"}},
        |      "nir": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "label": "B08"}},
        |      "nd": {"process_id": "normalized_difference", "arguments": {"x": {"from_node": "nir"}, "y": {"from_node": "red"}}, "result": true}
        |    }}}},
        |  "composite": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "ndvi"}, "dimension": "t",
        |    "reducer": {"process_graph": {
        |      "max": {"process_id": "max", "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}},
        |    "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val want = (for (y <- 0 to 1; x <- 0 to 1)
      yield (y.toDouble, x.toDouble) ->
        (0 to 2).map(ti => ndvi(x, y, ti)).max).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"$k")
  }

  test("published scaling example: apply + linear_scale_range") {
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B08"]}},
        |  "scale": {"process_id": "apply", "arguments": {
        |    "data": {"from_node": "load"},
        |    "process": {"process_graph": {
        |      "lsr": {"process_id": "linear_scale_range", "arguments": {
        |        "x": {"from_parameter": "x"},
        |        "inputMin": 0, "inputMax": 16, "outputMin": 0, "outputMax": 255},
        |        "result": true}}}},
        |    "result": true}
        |}}""".stripMargin
    val got = run(g).df
      .select(sum(col("value")).as("s")).first().getDouble(0)
    val want = (for ((_, ti) <- dates.zipWithIndex; y <- 0 to 1; x <- 0 to 1)
      yield nir(x, y, ti) / 16.0 * 255.0).sum
    assert(math.abs(got - want) < 1e-9)
  }

  test("published masking example: apply-threshold mask with replacement") {
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B08"]}},
        |  "threshold": {"process_id": "apply", "arguments": {
        |    "data": {"from_node": "load"},
        |    "process": {"process_graph": {
        |      "gt": {"process_id": "gt", "arguments": {"x": {"from_parameter": "x"}, "y": 11}, "result": true}}}}},
        |  "masked": {"process_id": "mask", "arguments": {
        |    "data": {"from_node": "load"}, "mask": {"from_node": "threshold"},
        |    "replacement": 0}, "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getTimestamp(0).toString, r.getDouble(2), r.getDouble(3)) -> r.getDouble(4))
      .toMap
    for ((d, ti) <- dates.zipWithIndex; y <- 0 to 1; x <- 0 to 1) {
      val v = nir(x, y, ti)
      val want = if (v > 11) 0.0 else v
      assert(got((s"$d.0", y.toDouble, x.toDouble)) == want, s"($d,$y,$x)")
    }
  }

  test("published monthly composite: aggregate_temporal_period mean") {
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04"]}},
        |  "monthly": {"process_id": "aggregate_temporal_period", "arguments": {
        |    "data": {"from_node": "load"}, "period": "month",
        |    "reducer": {"process_graph": {
        |      "mean": {"process_id": "mean", "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}},
        |    "result": true}
        |}}""".stripMargin
    val out = run(g).df
    val byKey = out.collect().map { r =>
      val label = r.get(0).toString
      ((label, r.getDouble(2), r.getDouble(3)), r.getDouble(4))
    }.toMap
    // January holds dates 0 and 1, March holds date 2
    for (y <- 0 to 1; x <- 0 to 1) {
      val jan = byKey.collectFirst {
        case ((l, yy, xx), v) if l.startsWith("2024-01") && yy == y && xx == x => v
      }.get
      assert(math.abs(jan - (red(x, y, 0) + red(x, y, 1)) / 2.0) < 1e-12)
      val mar = byKey.collectFirst {
        case ((l, yy, xx), v) if l.startsWith("2024-03") && yy == y && xx == x => v
      }.get
      assert(mar == red(x, y, 2))
    }
  }

  test("published band-arithmetic + composed statistics reduce over time") {
    // mixed callback over the time axis: sd(data) + mean(data) composed
    // with scalar math — exercises the array folds of the statistical
    // reducers (sum/mean/sd agree with their aggregate twins)
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04"]}},
        |  "stat": {"process_id": "reduce_dimension",
        |    "arguments": {
        |      "data": {"from_node": "load"}, "dimension": "t",
        |      "reducer": {"process_graph": {
        |        "m": {"process_id": "mean", "arguments": {"data": {"from_parameter": "data"}}},
        |        "s": {"process_id": "sd", "arguments": {"data": {"from_parameter": "data"}}},
        |        "z": {"process_id": "add", "arguments": {"x": {"from_node": "m"}, "y": {"from_node": "s"}}, "result": true}
        |      }}},
        |    "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    for (y <- 0 to 1; x <- 0 to 1) {
      val vs = (0 to 2).map(ti => red(x, y, ti))
      val m = vs.sum / 3.0
      val sd = math.sqrt(vs.map(v => (v - m) * (v - m)).sum / 2.0)
      assert(math.abs(got((y.toDouble, x.toDouble)) - (m + sd)) < 1e-12)
    }
  }

  test("published job shape: load -> NDVI -> temporal max -> save_result, reloaded") {
    // the canonical openEO batch-job graph every published example ends
    // with: a save_result terminal (GTiff in the docs; parquet is this
    // backend's native sink) — written eagerly, then reloaded and checked
    // against the same independent oracle as the max-NDVI composite
    val out = s"/tmp/graft_conf_save_${System.identityHashCode(this)}"
    val g =
      s"""{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04", "B08"]}},
        |  "ndvi": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "load"}, "dimension": "bands",
        |    "reducer": {"process_graph": {
        |      "r": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 0}},
        |      "n": {"process_id": "array_element", "arguments": {"data": {"from_parameter": "data"}, "index": 1}},
        |      "nd": {"process_id": "normalized_difference", "arguments": {"x": {"from_node": "n"}, "y": {"from_node": "r"}}, "result": true}
        |    }}}},
        |  "composite": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "ndvi"}, "dimension": "t",
        |    "reducer": {"process_graph": {
        |      "max": {"process_id": "max", "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}}},
        |  "save": {"process_id": "save_result", "arguments": {
        |    "data": {"from_node": "composite"}, "format": "Parquet",
        |    "options": {"path": "$out"}}, "result": true}
        |}}""".stripMargin
    run(g)
    val reloaded = spark.read.parquet(out).collect()
      .map(r => (r.getDouble(r.fieldIndex("y")), r.getDouble(r.fieldIndex("x"))) ->
        r.getDouble(r.fieldIndex("value"))).toMap
    for (y <- 0 to 1; x <- 0 to 1) {
      val want = (0 to 2).map(ti => ndvi(x, y, ti)).max
      assert(math.abs(reloaded((y.toDouble, x.toDouble)) - want) < 1e-12, s"($y,$x)")
    }
  }

  test("context argument threads into apply and reduce callbacks") {
    // the openEO `context` parameter: callbacks read it via
    // {"from_parameter": "context"} — the published offset-by-context
    // apply shape, and a reducer using context as a scale factor
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04"]}},
        |  "shift": {"process_id": "apply", "arguments": {
        |    "data": {"from_node": "load"}, "context": 100,
        |    "process": {"process_graph": {
        |      "add": {"process_id": "add", "arguments": {
        |        "x": {"from_parameter": "x"}, "y": {"from_parameter": "context"}},
        |        "result": true}}}}},
        |  "scaled": {"process_id": "reduce_dimension", "arguments": {
        |    "data": {"from_node": "shift"}, "dimension": "t", "context": 2,
        |    "reducer": {"process_graph": {
        |      "m": {"process_id": "max", "arguments": {"data": {"from_parameter": "data"}}},
        |      "k": {"process_id": "multiply", "arguments": {
        |        "x": {"from_node": "m"}, "y": {"from_parameter": "context"}},
        |        "result": true}}}},
        |    "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    for (y <- 0 to 1; x <- 0 to 1) {
      val want = ((0 to 2).map(ti => red(x, y, ti)).max + 100) * 2
      assert(got((y.toDouble, x.toDouble)) == want, s"($y,$x)")
    }
  }

  test("composed quantiles/median/product callback takes the array folds") {
    // quantile IQR composed with median and product — every statistical
    // arm here must flip to its array fold (linear-interpolation
    // quantiles = Spark's percentile estimator) because the callback
    // composes beyond one plain aggregate
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B08"]}},
        |  "stat": {"process_id": "reduce_dimension",
        |    "arguments": {
        |      "data": {"from_node": "load"}, "dimension": "t",
        |      "reducer": {"process_graph": {
        |        "q": {"process_id": "quantiles", "arguments": {"data": {"from_parameter": "data"}, "probabilities": [0.25, 0.75]}},
        |        "hi": {"process_id": "array_element", "arguments": {"data": {"from_node": "q"}, "index": 1}},
        |        "lo": {"process_id": "array_element", "arguments": {"data": {"from_node": "q"}, "index": 0}},
        |        "iqr": {"process_id": "subtract", "arguments": {"x": {"from_node": "hi"}, "y": {"from_node": "lo"}}},
        |        "med": {"process_id": "median", "arguments": {"data": {"from_parameter": "data"}}},
        |        "z": {"process_id": "add", "arguments": {"x": {"from_node": "iqr"}, "y": {"from_node": "med"}}, "result": true}
        |      }}},
        |    "result": true}
        |}}""".stripMargin
    val got = run(g).df.collect()
      .map(r => (r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    def quantile(sorted: Seq[Double], p: Double): Double = {
      val h = (sorted.size - 1) * p
      val lo = h.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }
    for (y <- 0 to 1; x <- 0 to 1) {
      val vs = (0 to 2).map(ti => nir(x, y, ti)).sorted
      val want = quantile(vs, 0.75) - quantile(vs, 0.25) + vs(1)
      assert(math.abs(got((y.toDouble, x.toDouble)) - want) < 1e-12, s"($y,$x)")
    }
  }

  test("published gap-filling shape: apply_dimension array_interpolate_linear along t") {
    // the openEO Python client docs' timeseries gap-fill —
    // apply_dimension(process="array_interpolate_linear", dimension="t")
    // — executed as its wire graph: the callback receives the ordered
    // series array (cubes/apply.py:42-128). Fixture: one cloud-masked
    // (null) observation per pixel at the middle date, equally spaced
    // dates; the filled value is the midpoint of its neighbors, valid
    // cells pass through untouched, dimension labels preserved.
    val holes = {
      val rows = for {
        (d, ti) <- Seq("2024-01-05 00:00:00", "2024-01-10 00:00:00",
          "2024-01-15 00:00:00").zipWithIndex
        y <- 0 to 1; x <- 0 to 1
      } yield (d, y.toDouble, x.toDouble,
        if (ti == 1) None else Some(nir(x, y, ti)))
      val df = rows.toDF("t", "y", "x", "value")
        .withColumn("t", to_timestamp(col("t")))
      DataCube.fromTable(df, Seq("t", "y", "x"), "value")
    }
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "fill": {"process_id": "apply_dimension",
        |    "arguments": {
        |      "data": {"from_node": "load"}, "dimension": "t",
        |      "process": {"process_graph": {
        |        "interp": {"process_id": "array_interpolate_linear",
        |          "arguments": {"data": {"from_parameter": "data"}},
        |          "result": true}
        |      }}},
        |    "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, g, _ => holes)
    assert(out.meta.dimNames == Seq("t", "y", "x")) // labels preserved
    val got = out.df.select(col("t"), col("y"), col("x"), col("value"))
      .collect().map(r =>
        (String.valueOf(r.get(0)).take(10), r.getDouble(1), r.getDouble(2)) ->
          r.getDouble(3)).toMap
    assert(got.size == 12)
    for (y <- 0 to 1; x <- 0 to 1) {
      assert(got(("2024-01-05", y.toDouble, x.toDouble)) == nir(x, y, 0))
      assert(got(("2024-01-15", y.toDouble, x.toDouble)) == nir(x, y, 2))
      assert(math.abs(got(("2024-01-10", y.toDouble, x.toDouble)) -
        (nir(x, y, 0) + nir(x, y, 2)) / 2.0) < 1e-12, s"fill ($y,$x)")
    }
  }

  test("spec proposals: flatten_dimensions ↔ unflatten_dimension round-trip") {
    // labels join with the separator in the given order, and split back
    // out exactly; a bad label fails the job loudly
    val g =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04"]}},
        |  "flat": {"process_id": "flatten_dimensions", "arguments": {
        |    "data": {"from_node": "load"},
        |    "dimensions": ["bands", "y", "x"], "target_dimension": "byx"},
        |    "result": true}
        |}}""".stripMargin
    val flat = run(g)
    assert(flat.meta.dimNames == Seq("t", "byx"))
    val labels = flat.df.select(col("byx")).distinct()
      .as[String].collect().toSet
    assert(labels == (for (y <- 0 to 1; x <- 0 to 1)
      yield s"B04~$y.0~$x.0").toSet, labels)
    val g2 =
      """{"process_graph": {
        |  "load": {"process_id": "load_collection", "arguments": {"id": "c", "bands": ["B04"]}},
        |  "flat": {"process_id": "flatten_dimensions", "arguments": {
        |    "data": {"from_node": "load"},
        |    "dimensions": ["bands", "y", "x"], "target_dimension": "byx"}},
        |  "back": {"process_id": "unflatten_dimension", "arguments": {
        |    "data": {"from_node": "flat"}, "dimension": "byx",
        |    "target_dimensions": ["b2", "y2", "x2"]},
        |    "result": true}
        |}}""".stripMargin
    val back = run(g2)
    assert(back.meta.dimNames == Seq("t", "b2", "y2", "x2"))
    val got = back.df
      .select(col("y2"), col("x2"), col("t").cast("string"), col("value"))
      .as[(String, String, String, Double)].collect().toSet
    val want = (for ((d, ti) <- dates.zipWithIndex; y <- 0 to 1; x <- 0 to 1)
      yield (s"$y.0", s"$x.0", d, red(x, y, ti))).toSet
    assert(got == want)
    // a label that does not split → loud failure, not a null dimension
    val bad = graft.operators.CubeDimOps.unflattenDimension(
      flat, "byx", Seq("a", "b"))
    val e = intercept[Exception] { bad.df.collect() }
    assert(e.getMessage != null)
  }

  test("spec proposal: aggregate_spatial_window pad vs trim, sum reducer") {
    // 5×3 integer grid, 2×2-pixel windows: x windows {0,1},{2,3},{4-partial},
    // y windows {0,1},{2-partial} — trim keeps only the 2 complete windows,
    // pad keeps all 6, labels = the window's first cell coordinate
    val rows = for (x <- 0 to 4; y <- 0 to 2) yield
      (x.toDouble, y.toDouble, (10 * x + y).toDouble)
    val c = DataCube.fromTable(rows.toDF("x", "y", "value"),
      Seq("x", "y"), "value")
    def g(boundary: String) =
      s"""{"process_graph": {
         |  "load": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "w": {"process_id": "aggregate_spatial_window", "arguments": {
         |    "data": {"from_node": "load"}, "size": [2, 2],
         |    "boundary": "$boundary",
         |    "reducer": {"process_graph": {
         |      "s": {"process_id": "sum", "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}},
         |    "result": true}
         |}}""".stripMargin
    def windowSum(xs: Range, ys: Range): Double =
      (for (x <- xs; y <- ys) yield 10.0 * x + y).sum
    val trim = ProcessGraph.execute(spark, g("trim"), _ => c).df
      .select(col("x").cast("double"), col("y").cast("double"), col("value"))
      .as[(Double, Double, Double)].collect().toMap2
    assert(trim == Map(
      (0.0, 0.0) -> windowSum(0 to 1, 0 to 1),
      (2.0, 0.0) -> windowSum(2 to 3, 0 to 1)))
    val pad = ProcessGraph.execute(spark, g("pad"), _ => c).df
      .select(col("x").cast("double"), col("y").cast("double"), col("value"))
      .as[(Double, Double, Double)].collect().toMap2
    assert(pad == Map(
      (0.0, 0.0) -> windowSum(0 to 1, 0 to 1),
      (0.0, 2.0) -> windowSum(0 to 1, 2 to 2),
      (2.0, 0.0) -> windowSum(2 to 3, 0 to 1),
      (2.0, 2.0) -> windowSum(2 to 3, 2 to 2),
      (4.0, 0.0) -> windowSum(4 to 4, 0 to 1),
      (4.0, 2.0) -> windowSum(4 to 4, 2 to 2)))
  }

  private implicit class Tup3Ops(rows: Array[(Double, Double, Double)]) {
    def toMap2: Map[(Double, Double), Double] =
      rows.map { case (a, b, v) => (a, b) -> v }.toMap
  }
}
