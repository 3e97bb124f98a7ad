package graft

import graft.core._
import graft.functions.{Reducers, Scalar}
import graft.operators._
import graft.plans.ProcessGraph
import graft.plans.ProcessGraph.{ColV, CubeV}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph-surface sweep: every registry arm that is not covered by a driver
  * graph query or another spec gets exercised THROUGH a process graph here
  * and compared against its operator twin, so RegistryCompletenessSpec's
  * evidence firewall holds with an empty waiver list.
  *
  * The scalar sweep compiles one single-node graph per scalar process and
  * evaluates all of them in ONE select against the direct twin expressions
  * (null-safe equality, so nan/nodata semantics are compared too); the
  * reducer sweep drives each reducer through reduce_dimension; the
  * cube-level sweep runs each remaining node end to end.
  */
class GraphSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def scalarGraph(pid: String, argsJson: String): Column =
    ProcessGraph.executeValue(spark,
      s"""{"process_graph": {"n": {"process_id": "$pid",
         |  "arguments": $argsJson, "result": true}}}""".stripMargin,
      _ => sys.error("no collections")) match {
      case ColV(c) => c
      case v => fail(s"$pid: expected ColV, got $v")
    }

  test("scalar sweep: every scalar arm ≡ its direct expression twin") {
    val cases: Seq[(String, String, Column)] = Seq(
      ("absolute", """{"x": -3.5}""", Scalar.absolute(lit(-3.5))),
      ("divide", """{"x": 7, "y": 2}""", Scalar.divide(lit(7.0), lit(2.0))),
      ("exp", """{"x": 1.25}""", Scalar.expC(lit(1.25))),
      ("ln", """{"x": 4.5}""", Scalar.ln(lit(4.5))),
      ("log", """{"x": 8, "base": 2}""", Scalar.logBase(lit(8.0), lit(2.0))),
      ("sqrt", """{"x": 6.25}""", Scalar.sqrtC(lit(6.25))),
      ("power", """{"base": 2, "p": 10}""", Scalar.power(lit(2.0), lit(10.0))),
      ("mod", """{"x": 7, "y": 3}""", Scalar.mod(lit(7.0), lit(3.0))),
      ("ceil", """{"x": 2.1}""", Scalar.ceilC(lit(2.1))),
      ("int", """{"x": -3.7}""", Scalar.int(lit(-3.7))),
      ("round", """{"x": 2.5}""", Scalar.roundHalfEven(lit(2.5), 0)),
      ("sgn", """{"x": -2}""", Scalar.sgn(lit(-2.0))),
      ("clip", """{"x": 5, "min": 0, "max": 3}""",
        Scalar.clip(lit(5.0), 0.0, 3.0)),
      ("linear_scale_range",
        """{"x": 5, "inputMin": 0, "inputMax": 10,
          | "outputMin": 0, "outputMax": 100}""".stripMargin,
        Scalar.linearScaleRange(lit(5.0), 0, 10, 0, 100)),
      ("normalized_difference", """{"x": 3, "y": 1}""",
        Scalar.normalizedDifference(lit(3.0), lit(1.0))),
      ("e", "{}", Scalar.e),
      ("pi", "{}", Scalar.pi),
      ("nan", "{}", Scalar.nan),
      ("constant", """{"x": 42}""", lit(42.0)),
      ("sin", """{"x": 0.5}""", Scalar.sinC(lit(0.5))),
      ("cos", """{"x": 0.5}""", Scalar.cosC(lit(0.5))),
      ("tan", """{"x": 0.5}""", Scalar.tanC(lit(0.5))),
      ("arcsin", """{"x": 0.5}""", Scalar.arcsin(lit(0.5))),
      ("arccos", """{"x": 0.5}""", Scalar.arccos(lit(0.5))),
      ("arctan", """{"x": 0.5}""", Scalar.arctan(lit(0.5))),
      ("arctan2", """{"y": 1, "x": 2}""", Scalar.arctan2(lit(1.0), lit(2.0))),
      ("sinh", """{"x": 0.5}""", Scalar.sinhC(lit(0.5))),
      ("cosh", """{"x": 0.5}""", Scalar.coshC(lit(0.5))),
      ("tanh", """{"x": 0.5}""", Scalar.tanhC(lit(0.5))),
      ("arsinh", """{"x": 0.5}""", Scalar.arsinh(lit(0.5))),
      ("arcosh", """{"x": 2.0}""", Scalar.arcosh(lit(2.0))),
      ("artanh", """{"x": 0.5}""", Scalar.artanh(lit(0.5))),
      ("gt", """{"x": 3, "y": 2}""", Scalar.gt(lit(3.0), lit(2.0))),
      ("lt", """{"x": 3, "y": 2}""", Scalar.lt(lit(3.0), lit(2.0))),
      ("gte", """{"x": 2, "y": 2}""", Scalar.gte(lit(2.0), lit(2.0))),
      ("lte", """{"x": 2, "y": 2}""", Scalar.lte(lit(2.0), lit(2.0))),
      ("neq", """{"x": 1, "y": 2}""", Scalar.neq(lit(1.0), lit(2.0))),
      ("between", """{"x": 2, "min": 1, "max": 3}""",
        Scalar.between(lit(2.0), lit(1.0), lit(3.0))),
      ("and", """{"x": true, "y": false}""", Scalar.and(lit(true), lit(false))),
      ("or", """{"x": true, "y": false}""", Scalar.or(lit(true), lit(false))),
      ("xor", """{"x": true, "y": false}""", Scalar.xor(lit(true), lit(false))),
      ("not", """{"x": false}""", Scalar.not(lit(false))),
      ("is_nan", """{"x": 1}""", Scalar.isNanC(lit(1.0))),
      ("is_nodata", """{"x": null}""", Scalar.isNodata(lit(null))),
      ("is_valid", """{"x": 1}""", Scalar.isValid(lit(1.0))),
      ("is_infinite", """{"x": 1}""", Scalar.isInfinite(lit(1.0))),
      ("text_begins", """{"data": "Hello", "pattern": "He"}""",
        Scalar.textBegins(lit("Hello"), "He", true)),
      ("text_ends", """{"data": "Hello", "pattern": "LO",
        | "case_sensitive": false}""".stripMargin,
        Scalar.textEnds(lit("Hello"), "LO", false)),
      ("text_contains", """{"data": "Hello", "pattern": "ell"}""",
        Scalar.textContains(lit("Hello"), "ell", true)),
      ("text_concat", """{"data": ["a", 1, "b"], "separator": "-"}""",
        Scalar.textConcat(Seq(lit("a"), lit(1.0), lit("b")), "-")),
      ("date_between", """{"x": "2024-01-05", "min": "2024-01-01",
        | "max": "2024-02-01"}""".stripMargin,
        Scalar.dateBetween(lit("2024-01-05"), lit("2024-01-01"),
          lit("2024-02-01"))),
      ("date_difference", """{"date1": "2024-01-01", "date2": "2024-01-03",
        | "unit": "day"}""".stripMargin,
        Scalar.dateDifference(lit("2024-01-01"), lit("2024-01-03"), "day")),
      ("date_shift", """{"date": "2024-01-31", "value": 1,
        | "unit": "month"}""".stripMargin,
        Scalar.dateShift(lit("2024-01-31"), 1, "month")),
      ("lang_id", """{"x": "the cat and the dog sat on the mat"}""",
        graft.pipeline.TextAnalysis.langId(
          lit("the cat and the dog sat on the mat"))),
      ("token_count", """{"x": "one two three"}""",
        graft.pipeline.TextAnalysis.tokenCount(lit("one two three"))),
      ("subword_count", """{"x": "unbelievable tokenization"}""",
        graft.pipeline.TextAnalysis.subwordCount(
          lit("unbelievable tokenization"))),
      ("quality_score", """{"x": "A normal enough sentence, with words."}""",
        graft.pipeline.TextAnalysis.qualityScore(
          lit("A normal enough sentence, with words."))),
      ("fingerprint", """{"x": "some document text here"}""",
        graft.pipeline.TextAnalysis.fingerprint(
          lit("some document text here"))),
      ("content_hash", """{"x": "some document text here"}""",
        graft.pipeline.TextAnalysis.contentHash(
          lit("some document text here"))),
      ("redact_pii", """{"x": "mail me at a@b.com or +1 555 123 4567"}""",
        graft.pipeline.TextAnalysis.redactPii(
          lit("mail me at a@b.com or +1 555 123 4567"))),
      ("array_element", """{"data": [5.0, 6.0, 7.0], "index": 1}""",
        graft.functions.ArrayFns.arrayElement(
          array(lit(5.0), lit(6.0), lit(7.0)), 1)),
      ("array_concat", """{"array1": [1.0], "array2": [2.0, 3.0]}""",
        concat(array(lit(1.0)), array(lit(2.0), lit(3.0)))),
      ("array_contains", """{"data": [1.0, 2.0], "value": 2.0}""",
        graft.functions.ArrayFns.arrayContains(
          array(lit(1.0), lit(2.0)), lit(2.0))),
      ("array_create", """{"data": [1.0, 2.0], "repeat": 2}""",
        graft.functions.ArrayFns.arrayCreate(array(lit(1.0), lit(2.0)), 2)),
      ("array_modify", """{"data": [1.0, 2.0, 3.0], "values": [9.0],
        | "index": 1}""".stripMargin,
        graft.functions.ArrayFns.arrayModify(
          array(lit(1.0), lit(2.0), lit(3.0)), array(lit(9.0)), 1, 1)),
      ("array_find", """{"data": [4.0, 5.0, 6.0], "value": 6.0}""",
        graft.functions.ArrayFns.arrayFind(
          array(lit(4.0), lit(5.0), lit(6.0)), lit(6.0))),
      ("array_labels", """{"data": [7.0, 8.0]}""",
        graft.functions.ArrayFns.arrayLabels(array(lit(7.0), lit(8.0)))),
      ("sort", """{"data": [3.0, 1.0, 2.0]}""",
        graft.functions.ArrayFns.arraySort(
          array(lit(3.0), lit(1.0), lit(2.0)))))
    val checks = cases.map { case (pid, a, direct) =>
      (scalarGraph(pid, a) <=> direct).as(pid)
    }
    val row = spark.range(1).select(checks: _*).first()
    cases.zipWithIndex.foreach { case ((pid, _, _), i) =>
      assert(row.getBoolean(i), s"graph twin mismatch for $pid")
    }
  }

  test("array_filter arm with a condition callback ≡ ArrayFns.arrayFilter") {
    val g =
      """{"process_graph": {
        |  "n": {"process_id": "array_filter",
        |        "arguments": {"data": [1.0, 2.0, 3.0, 4.0],
        |          "condition": {"process_graph": {
        |            "c": {"process_id": "gt",
        |                  "arguments": {"x": {"from_parameter": "x"}, "y": 2},
        |                  "result": true}}}},
        |        "result": true}}}""".stripMargin
    val got = ProcessGraph.executeValue(spark, g,
      _ => sys.error("no collections")) match {
      case ColV(c) => c
      case v => fail(s"expected ColV, got $v")
    }
    val direct = graft.functions.ArrayFns.arrayFilter(
      array(lit(1.0), lit(2.0), lit(3.0), lit(4.0)),
      x => Scalar.gt(x, lit(2.0)).cast("boolean"))
    assert(spark.range(1).select((got <=> direct).as("ok")).first().getBoolean(0))
  }

  // ---- reducers through reduce_dimension ----

  private def tband: DataCube = {
    val df = (for (b <- Seq("B1", "B2"); d <- 0 until 9) yield
      (d.toDouble, b,
        if (b == "B2" && d == 4) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(d * 2.0 + b.length)))
      .toDF("d", "band", "value")
    DataCube.fromTable(df, Seq("d", "band"), "value")
  }

  private def reduceGraph(reducerJson: String): DataCube =
    ProcessGraph.execute(spark,
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "r": {"process_id": "reduce_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "d",
         |          "reducer": {"process_graph": $reducerJson}},
         |        "result": true}}}""".stripMargin,
      _ => tband)

  test("reducer sweep: every reducer arm ≡ ReduceOps + Reducers twin") {
    def node(pid: String, extra: String = "") =
      s"""{"m": {"process_id": "$pid",
         |  "arguments": {"data": {"from_parameter": "data"}$extra},
         |  "result": true}}""".stripMargin
    val twins: Seq[(String, String, Column => Column)] = Seq(
      ("min", "", v => Reducers.minR(v)),
      ("max", "", v => Reducers.maxR(v)),
      ("median", "", v => Reducers.medianR(v)),
      ("sd", "", v => Reducers.sdR(v)),
      ("variance", "", v => Reducers.varianceR(v)),
      ("count", "", v => Reducers.countValid(v)),
      ("product", "", v => Reducers.productR(v)),
      ("extrema", "", v => Reducers.extremaR(v)),
      ("any", "", v => Reducers.anyR(v)),
      ("all", "", v => Reducers.allR(v)),
      ("quantiles", """, "probabilities": [0.25, 0.5]""",
        v => Reducers.quantilesR(v, Seq(0.25, 0.5))),
      // the q form expands to q-1 equidistant cuts (reference:
      // math.py:354-362)
      ("quantiles", """, "q": 4""",
        v => Reducers.quantilesR(v, Seq(0.25, 0.5, 0.75))))
    for ((pid, extra, twin) <- twins) {
      val got = rows(reduceGraph(node(pid, extra)).df)
      val direct = ReduceOps.reduceDimension(tband, "d", twin)
      assert(got == rows(direct.df), pid)
    }
    // parameter contract: both set and neither set raise the named errors
    val conflict = intercept[Exception] {
      reduceGraph(node("quantiles",
        """, "probabilities": [0.5], "q": 4""")).df.collect()
    }
    assert(conflict.getMessage.contains("QuantilesParameterConflict"))
    val missing = intercept[Exception] {
      reduceGraph(node("quantiles", "")).df.collect()
    }
    assert(missing.getMessage.contains("QuantilesParameterMissing"))
    // first/last are ordered reduces: min_by/max_by over the reduced dim
    val gotFirst = reduceGraph(node("first")).df.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotLast = reduceGraph(node("last")).df.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expFirst = tband.df.where(col("value").isNotNull)
      .groupBy(col("band")).agg(min_by(col("value"), col("d")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expLast = tband.df.where(col("value").isNotNull)
      .groupBy(col("band")).agg(max_by(col("value"), col("d")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotFirst == expFirst)
    assert(gotLast == expLast)
  }

  // ---- remaining cube-level arms ----

  private def runCube(graph: String, colls: Map[String, DataCube]): DataCube =
    ProcessGraph.execute(spark, graph, colls(_))

  private def timeCube: DataCube = {
    val df = (for (day <- 1 to 20; b <- Seq("B1", "B2")) yield
      (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), b,
        day * 10.0 + b.length)).toDF("t", "band", "value")
    DataCube.fromTable(df, Seq("t", "band"), "value")
  }

  private def grid: DataCube = {
    val df = (for (x <- 0 until 10; y <- 0 until 8) yield
      (x.toDouble, y.toDouble, (x * 7 + y * 3).toDouble))
      .toDF("x", "y", "value")
    DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
  }

  private def load(id: String) =
    s""""l_$id": {"process_id": "load_collection", "arguments": {"id": "$id"}}"""

  test("dim-utility arms: add/drop/rename_dimension, rename_labels, trim_cube") {
    val g =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "a": {"process_id": "add_dimension",
         |        "arguments": {"data": {"from_node": "l_c"},
         |                      "name": "variant", "label": "v1"}},
         |  "rd": {"process_id": "rename_dimension",
         |        "arguments": {"data": {"from_node": "a"},
         |                      "source": "variant", "target": "flavor"}},
         |  "rl": {"process_id": "rename_labels",
         |        "arguments": {"data": {"from_node": "rd"},
         |                      "dimension": "flavor",
         |                      "source": ["v1"], "target": ["vee"]}},
         |  "d": {"process_id": "drop_dimension",
         |        "arguments": {"data": {"from_node": "rl"}, "name": "flavor"},
         |        "result": true}}}""".stripMargin
    val got = runCube(g, Map("c" -> tband))
    assert(rows(got.df) == rows(tband.df))
    assert(got.meta.dimNames == tband.meta.dimNames)

    val holed = tband.withDf(_.withColumn("value",
      when(col("band") === "B2", lit(null)).otherwise(col("value"))))
    val gTrim =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "t": {"process_id": "trim_cube",
         |        "arguments": {"data": {"from_node": "l_c"},
         |                      "dimensions": ["band"]},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gTrim, Map("c" -> holed)).df) ==
      rows(CubeDimOps.trimCube(holed, Seq("band")).df))
  }

  test("filter arms: filter_bands, filter_bbox, filter_labels, filter_spatial") {
    val gBands =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "f": {"process_id": "filter_bands",
         |        "arguments": {"data": {"from_node": "l_c"}, "bands": ["B1"]},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gBands, Map("c" -> tband)).df) ==
      rows(FilterOps.filterBands(tband, Seq("B1")).df))

    val gBbox =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "f": {"process_id": "filter_bbox",
         |        "arguments": {"data": {"from_node": "l_g"},
         |                      "extent": [2.0, 6.0, 1.0, 5.0]},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gBbox, Map("g" -> grid)).df) ==
      rows(FilterOps.filterBbox(grid, 2.0, 6.0, 1.0, 5.0).df))

    val gLabels =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "f": {"process_id": "filter_labels",
         |        "arguments": {"data": {"from_node": "l_c"}, "dimension": "band",
         |          "condition": {"process_graph": {
         |            "e": {"process_id": "eq",
         |                  "arguments": {"x": {"from_parameter": "x"},
         |                                "y": "B2"},
         |                  "result": true}}}},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gLabels, Map("c" -> tband)).df) ==
      rows(FilterOps.filterLabels(tband, "band",
        l => Scalar.eq(l, lit("B2")).cast("boolean")).df))

    val ring = """{"type": "Polygon", "coordinates":
      [[[1.5, 0.5], [6.5, 0.5], [6.5, 4.5], [1.5, 4.5], [1.5, 0.5]]]}"""
    val gSpatial =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "f": {"process_id": "filter_spatial",
         |        "arguments": {"data": {"from_node": "l_g"},
         |                      "geometries": $ring},
         |        "result": true}}}""".stripMargin
    val directRing = Seq((1.5, 0.5), (6.5, 0.5), (6.5, 4.5), (1.5, 4.5),
      (1.5, 0.5))
    assert(rows(runCube(gSpatial, Map("g" -> grid)).df) ==
      rows(SpatialOps.filterSpatial(grid, directRing).df))
  }

  test("mask arms: mask, mask_polygon, apply_polygon") {
    val maskCube = grid.withDf(_.withColumn("value",
      when(col("x") >= 5.0, 1.0).otherwise(0.0)))
    val gMask =
      s"""{"process_graph": {
         |  ${load("g")}, ${load("m")},
         |  "k": {"process_id": "mask",
         |        "arguments": {"data": {"from_node": "l_g"},
         |                      "mask": {"from_node": "l_m"},
         |                      "replacement": -1.0},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gMask, Map("g" -> grid, "m" -> maskCube)).df) ==
      rows(MergeOps.mask(grid, maskCube, lit(-1.0)).df))

    val ring = """{"type": "Polygon", "coordinates":
      [[[0.5, 0.5], [4.5, 0.5], [4.5, 3.5], [0.5, 3.5], [0.5, 0.5]]]}"""
    val directRing = Seq((0.5, 0.5), (4.5, 0.5), (4.5, 3.5), (0.5, 3.5),
      (0.5, 0.5))
    val gMaskPoly =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "k": {"process_id": "mask_polygon",
         |        "arguments": {"data": {"from_node": "l_g"}, "mask": $ring},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gMaskPoly, Map("g" -> grid)).df) ==
      rows(SpatialOps.maskPolygon(grid, directRing, lit(null)).df))

    val gApplyPoly =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "k": {"process_id": "apply_polygon",
         |        "arguments": {"data": {"from_node": "l_g"},
         |          "polygons": $ring,
         |          "process": {"process_graph": {
         |            "m": {"process_id": "multiply",
         |                  "arguments": {"x": {"from_parameter": "x"},
         |                                "y": 100},
         |                  "result": true}}}},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gApplyPoly, Map("g" -> grid)).df) ==
      rows(SpatialOps.applyPolygon(grid, directRing,
        v => Scalar.multiply(v, lit(100.0))).df))
  }

  test("merge_cubes / ndvi / inspect / apply_kernel / reduce_spatial arms") {
    val b1 = FilterOps.filterBands(tband, Seq("B1"))
    val b2 = FilterOps.filterBands(tband, Seq("B2"))
    val gMerge =
      s"""{"process_graph": {
         |  ${load("a")}, ${load("b")},
         |  "m": {"process_id": "merge_cubes",
         |        "arguments": {"cube1": {"from_node": "l_a"},
         |                      "cube2": {"from_node": "l_b"}},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gMerge, Map("a" -> b1, "b" -> b2)).df) ==
      rows(MergeOps.mergeCubes(b1, b2, None).df))

    val nr = {
      val df = (for (x <- 0 until 6; b <- Seq("nir", "red")) yield
        (x.toDouble, b, if (b == "nir") x * 5.0 + 8 else x * 2.0 + 1))
        .toDF("x", "band", "value")
      DataCube.fromTable(df, Seq("x", "band"), "value",
        Map("band" -> DimType.Bands))
    }
    val gNdvi =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "n": {"process_id": "ndvi",
         |        "arguments": {"data": {"from_node": "l_c"},
         |                      "nir": "nir", "red": "red"}},
         |  "i": {"process_id": "inspect",
         |        "arguments": {"data": {"from_node": "n"},
         |                      "message": "sweep"},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gNdvi, Map("c" -> nr)).df) ==
      rows(IndicesOps.ndvi(nr, "nir", "red").df))

    val gKernel =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "k": {"process_id": "apply_kernel",
         |        "arguments": {"data": {"from_node": "l_g"},
         |          "kernel": [[0, 1, 0], [1, 4, 1], [0, 1, 0]]},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gKernel, Map("g" -> grid)).df) ==
      rows(KernelOps.applyKernel(grid,
        Seq(Seq(0, 1, 0), Seq(1, 4, 1), Seq(0, 1, 0))).df))

    val gReduceSpatial =
      s"""{"process_graph": {
         |  ${load("g")},
         |  "r": {"process_id": "reduce_spatial",
         |        "arguments": {"data": {"from_node": "l_g"},
         |          "reducer": {"process_graph": {
         |            "s": {"process_id": "sum",
         |                  "arguments": {"data": {"from_parameter": "data"}},
         |                  "result": true}}}},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(gReduceSpatial, Map("g" -> grid)).df) ==
      rows(ReduceOps.reduceSpatial(grid, v => Reducers.sumR(v)).df))
  }

  test("aggregate_temporal_period arm ≡ AggregateOps twin") {
    val g =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "a": {"process_id": "aggregate_temporal_period",
         |        "arguments": {"data": {"from_node": "l_c"}, "period": "week",
         |          "reducer": {"process_graph": {
         |            "m": {"process_id": "mean",
         |                  "arguments": {"data": {"from_parameter": "data"}},
         |                  "result": true}}}},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(g, Map("c" -> timeCube)).df) ==
      rows(AggregateOps.aggregateTemporalPeriod(timeCube, "week",
        v => Reducers.meanR(v)).df))
  }

  test("run_udf arm ≡ UdfOps.runUdf (python3 per-partition subprocess)") {
    val small = tband.withDf(_.limit(6))
    val udf = "def udf(row):\\n    return float(row['value'] * 2)"
    val g =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "u": {"process_id": "run_udf",
         |        "arguments": {"data": {"from_node": "l_c"}, "udf": "$udf"},
         |        "result": true}}}""".stripMargin
    assert(rows(runCube(g, Map("c" -> small)).df) ==
      rows(UdfOps.runUdf(small,
        "def udf(row):\n    return float(row['value'] * 2)").df))
  }

  test("ngram_jaccard_dedup / simhash_dedup_survivors arms ≡ Dedup twins") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark catalyst planning"),
      (4L, "another unrelated document mentioning zarr chunk codecs"))
      .toDF("id", "value")
    val c = DataCube.fromTable(docs, Seq("id"), "value")
    val gJ =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "d": {"process_id": "ngram_jaccard_dedup",
         |        "arguments": {"data": {"from_node": "l_c"},
         |                      "dimension": "id", "n": 3, "threshold": 0.5},
         |        "result": true}}}""".stripMargin
    val directJ = {
      val pairs = graft.pipeline.Dedup.ngramJaccardNearDups(
        docs, "id", col("value"), Seq.empty, 3, 0.5)
      graft.pipeline.Dedup.survivors(docs, "id", pairs)
    }
    assert(rows(runCube(gJ, Map("c" -> c)).df) == rows(directJ))

    val gS =
      s"""{"process_graph": {
         |  ${load("c")},
         |  "d": {"process_id": "simhash_dedup_survivors",
         |        "arguments": {"data": {"from_node": "l_c"},
         |                      "dimension": "id"},
         |        "result": true}}}""".stripMargin
    val directS = {
      val pairs = graft.pipeline.Dedup.simhashNearDups(
        docs, "id", col("value"), Seq.empty, 3)
      graft.pipeline.Dedup.survivors(docs, "id", pairs)
    }
    assert(rows(runCube(gS, Map("c" -> c)).df) == rows(directS))
  }
}
