package graft

import graft.core._
import graft.plans.ProcessGraph
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end OpenEO process-graph execution against a tiny cube
  * (mirrors the reference's parser round-trip tests, conftest.py:102-126).
  */
class ProcessGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  def cube: DataCube = {
    val df = Seq(
      ("2024-01-01 00:00:00", "B1", 1.0), ("2024-01-02 00:00:00", "B1", 3.0),
      ("2024-01-01 00:00:00", "B2", 10.0), ("2024-01-02 00:00:00", "B2", 20.0),
      ("2024-03-01 00:00:00", "B1", 99.0))
      .toDF("t", "band", "value").withColumn("t", to_timestamp(col("t")))
    DataCube.fromTable(df, Seq("t", "band"), "value")
  }

  test("load → filter_temporal → apply callback → reduce mean") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "f": {"process_id": "filter_temporal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "extent": ["2024-01-01", "2024-02-01"]}},
        |  "a": {"process_id": "apply",
        |        "arguments": {"data": {"from_node": "f"},
        |          "process": {"process_graph": {
        |            "add1": {"process_id": "add",
        |                     "arguments": {"x": {"from_parameter": "x"}, "y": 1},
        |                     "result": true}}}}},
        |  "r": {"process_id": "reduce_dimension",
        |        "arguments": {"data": {"from_node": "a"}, "dimension": "t",
        |          "reducer": {"process_graph": {
        |            "m": {"process_id": "mean",
        |                  "arguments": {"data": {"from_parameter": "data"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // B1: mean(2, 4) = 3 (the March cell is filtered); B2: mean(11, 21) = 16
    assert(out == Map("B1" -> 3.0, "B2" -> 16.0))
    assert(!out.contains("99"))
  }

  test("filter_temporal / load_collection accept null (open) extent bounds") {
    def run(extent: String): Set[Double] = {
      val graph =
        s"""{"process_graph": {
           |  "l": {"process_id": "load_collection",
           |        "arguments": {"id": "c", "temporal_extent": $extent}},
           |  "r": {"process_id": "reduce_dimension",
           |        "arguments": {"data": {"from_node": "l"}, "dimension": "band",
           |          "reducer": {"process_graph": {
           |            "m": {"process_id": "sum",
           |                  "arguments": {"data": {"from_parameter": "data"}},
           |                  "result": true}}}},
           |        "result": true}
           |}}""".stripMargin
      ProcessGraph.execute(spark, graph, _ => cube)
        .df.collect().map(_.getDouble(1)).toSet
    }
    // open start: everything before Feb → the two Jan slices
    assert(run("""[null, "2024-02-01"]""") == Set(11.0, 23.0))
    // open end: everything from Feb on → only the March cell
    assert(run("""["2024-02-01", null]""") == Set(99.0))
    // both null is the spec's TemporalExtentEmpty error, not a crash
    val e = intercept[IllegalArgumentException](run("[null, null]"))
    assert(e.getMessage.contains("TemporalExtentEmpty"))
    // same shapes through the filter_temporal node
    val g2 =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "f": {"process_id": "filter_temporal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "extent": ["2024-02-01", null]},
        |        "result": true}
        |}}""".stripMargin
    val vals = ProcessGraph.execute(spark, g2, _ => cube)
      .df.select("value").collect().map(_.getDouble(0)).toSet
    assert(vals == Set(99.0))
  }

  test("custom process registration: node + callback use, shadowing, removal") {
    import graft.plans.ProcessGraph.{ColV, CubeV, NumV}
    // a cube-level custom process with a numeric argument...
    ProcessGraph.registerProcess("scale_values", (args, _) => {
      val c = args("data").asInstanceOf[CubeV].cube
      val k = args("factor").asInstanceOf[NumV].v
      CubeV(c.copy(df = c.df.withColumn("value", col("value") * k)))
    })
    // ...and a custom SCALAR process, usable inside apply callbacks
    ProcessGraph.registerProcess("cube_root", (args, _) =>
      ColV(cbrt(args("x").asInstanceOf[ColV].col)))
    try {
      val graph =
        """{"process_graph": {
          |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
          |  "s": {"process_id": "scale_values",
          |        "arguments": {"data": {"from_node": "l"}, "factor": 8}},
          |  "a": {"process_id": "apply",
          |        "arguments": {"data": {"from_node": "s"},
          |          "process": {"process_graph": {
          |            "r": {"process_id": "cube_root",
          |                  "arguments": {"x": {"from_parameter": "x"}},
          |                  "result": true}}}},
          |        "result": true}
          |}}""".stripMargin
      val out = ProcessGraph.execute(spark, graph, _ => cube).df
        .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
      assert(out.contains(("B1", 2.0)))  // cbrt(1*8)
      assert(out.contains(("B2", math.cbrt(80.0)))) // cbrt(10*8)
      // shadowing: a custom "mean" wins over the built-in reducer...
      ProcessGraph.registerProcess("mean", (args, _) =>
        ColV(lit(42.0)))
      val g2 =
        """{"process_graph": {
          |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
          |  "r": {"process_id": "reduce_dimension",
          |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
          |          "reducer": {"process_graph": {
          |            "m": {"process_id": "mean",
          |                  "arguments": {"data": {"from_parameter": "data"}},
          |                  "result": true}}}},
          |        "result": true}
          |}}""".stripMargin
      val shadowed = ProcessGraph.execute(spark, g2, _ => cube).df
        .collect().map(_.getDouble(1)).toSet
      assert(shadowed == Set(42.0))
      // ...and the built-in reappears on unregister
      ProcessGraph.unregisterProcess("mean")
      val restored = ProcessGraph.execute(spark, g2, _ => cube).df
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(restored("B1") == (1.0 + 3.0 + 99.0) / 3)
    } finally {
      ProcessGraph.unregisterProcess("scale_values")
      ProcessGraph.unregisterProcess("cube_root")
      ProcessGraph.unregisterProcess("mean")
    }
  }

  test("reduce_dimension with ordered first/last reducers (order context)") {
    def g(reducer: String, extraArgs: String = "") =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "r": {"process_id": "reduce_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |          "reducer": {"process_graph": {
         |            "x": {"process_id": "$reducer",
         |                  "arguments": {"data": {"from_parameter": "data"}$extraArgs},
         |                  "result": true}}}},
         |        "result": true}
         |}}""".stripMargin
    // cube with a null cell at B1's latest time to exercise nodata handling
    val df = Seq(
      ("2024-01-01 00:00:00", "B1", Some(1.0)), ("2024-01-02 00:00:00", "B1", Some(3.0)),
      ("2024-01-03 00:00:00", "B1", None),
      ("2024-01-01 00:00:00", "B2", Some(10.0)), ("2024-01-02 00:00:00", "B2", Some(20.0)))
      .toDF("t", "band", "value").withColumn("t", to_timestamp(col("t")))
    val c = DataCube.fromTable(df, Seq("t", "band"), "value")
    def run(graph: String): Map[String, Option[Double]] =
      ProcessGraph.execute(spark, graph, _ => c).df.collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // first: earliest by t
    assert(run(g("first")) == Map("B1" -> Some(1.0), "B2" -> Some(10.0)))
    // last skips the trailing null (ignore_nodata defaults true)…
    assert(run(g("last")) == Map("B1" -> Some(3.0), "B2" -> Some(20.0)))
    // …and keeps it when ignore_nodata=false (arrays.py:461-495 semantics)
    assert(run(g("last", """, "ignore_nodata": false""")) ==
      Map("B1" -> None, "B2" -> Some(20.0)))
  }

  test("nested scalar callback compiles to one fused expression") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "a": {"process_id": "apply",
        |        "arguments": {"data": {"from_node": "l"},
        |          "process": {"process_graph": {
        |            "m": {"process_id": "multiply",
        |                  "arguments": {"x": {"from_parameter": "x"}, "y": 2}},
        |            "s": {"process_id": "subtract",
        |                  "arguments": {"x": {"from_node": "m"}, "y": 1},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
    val vals = out.df.filter(col("band") === "B1" &&
      col("t") === to_timestamp(lit("2024-01-01 00:00:00")))
      .collect().map(_.getDouble(2))
    assert(vals.toSeq == Seq(1.0)) // 1*2 - 1
    // the callback is a single Project over the scan — no per-node stages
    val plan = out.df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("unknown process raises ProcessUnsupported") {
    val graph =
      """{"process_graph": {"z": {"process_id": "warp_drive",
        |  "arguments": {}, "result": true}}}""".stripMargin
    val e = intercept[IllegalArgumentException] {
      ProcessGraph.execute(spark, graph, _ => cube)
    }
    assert(e.getMessage.contains("ProcessUnsupported"))
  }

  test("mask_polygon and aggregate_spatial graph nodes parse inline GeoJSON") {
    val grid = Seq.tabulate(4, 4)((x, y) => (x.toDouble, y.toDouble, (x * 4 + y).toDouble))
      .flatten.toDF("x", "y", "value")
    val spatialCube = DataCube.fromTable(grid, Seq("x", "y"), "value")
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "z": {"process_id": "aggregate_spatial",
        |        "arguments": {"data": {"from_node": "l"},
        |          "geometries": {"type": "FeatureCollection", "features": [
        |            {"type": "Feature", "properties": {"id": "low"},
        |             "geometry": {"type": "Polygon", "coordinates":
        |               [[[-0.5,-0.5],[1.5,-0.5],[1.5,3.5],[-0.5,3.5],[-0.5,-0.5]]]}},
        |            {"type": "Feature", "properties": {"id": "high"},
        |             "geometry": {"type": "Polygon", "coordinates":
        |               [[[1.5,-0.5],[3.5,-0.5],[3.5,3.5],[1.5,3.5],[1.5,-0.5]]]}}]},
        |          "reducer": {"process_graph": {
        |            "s": {"process_id": "sum",
        |                  "arguments": {"data": {"from_parameter": "data"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => spatialCube)
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // low zone: x∈{0,1} → Σ 0..7 = 28; high: x∈{2,3} → Σ 8..15 = 92
    assert(out == Map("low" -> 28.0, "high" -> 92.0))
  }

  test("aggregate_temporal graph node with explicit intervals and labels") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "a": {"process_id": "aggregate_temporal",
        |        "arguments": {"data": {"from_node": "l"},
        |          "intervals": [["2024-01-01", "2024-02-01"],
        |                        ["2024-02-01", "2024-04-01"]],
        |          "labels": ["jan", "spring"],
        |          "reducer": {"process_graph": {
        |            "s": {"process_id": "sum",
        |                  "arguments": {"data": {"from_parameter": "data"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
      .df.collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out == Map(("jan", "B1") -> 4.0, ("jan", "B2") -> 30.0,
      ("spring", "B1") -> 99.0))
  }

  test("apply_dimension graph node with target_dimension rename + relabel") {
    val inner =
      """{"m": {"process_id": "multiply",
        |       "arguments": {"x": {"from_parameter": "x"}, "y": 2},
        |       "result": true}}""".stripMargin
    val cb =
      s"""{"id": {"process_id": "array_apply",
         |        "arguments": {"data": {"from_parameter": "data"},
         |                      "process": {"process_graph": $inner}},
         |        "result": true}}""".stripMargin
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "d": {"process_id": "apply_dimension",
         |        "arguments": {"data": {"from_node": "l"},
         |                      "dimension": "t",
         |                      "target_dimension": "idx",
         |                      "process": {"process_graph": $cb}},
         |        "result": true}
         |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
    assert(out.meta.dimNames == Seq("band", "idx"))
    val b2 = out.df.filter(col("band") === "B2").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(b2 == Map(0L -> 20.0, 1L -> 40.0))
  }

  test("array processes: order + rearrange + first/last in array callbacks") {
    // sort each band's series descending via argsort + permute, new dim idx
    val cb =
      """{"o": {"process_id": "order",
        |       "arguments": {"data": {"from_parameter": "data"}, "asc": false}},
        | "r": {"process_id": "rearrange",
        |       "arguments": {"data": {"from_parameter": "data"},
        |                     "order": {"from_node": "o"}},
        |       "result": true}}""".stripMargin
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "d": {"process_id": "apply_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |                      "target_dimension": "idx",
         |                      "process": {"process_graph": $cb}},
         |        "result": true}
         |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
    val b1 = out.df.filter(col("band") === "B1").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(b1 == Map(0L -> 99.0, 1L -> 3.0, 2L -> 1.0))

    // last composes with array-consuming nodes: append the series' final
    // value to the series (scalar feeds array_append)
    val cbLast =
      """{"f": {"process_id": "last",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "a": {"process_id": "array_append",
        |       "arguments": {"data": {"from_parameter": "data"},
        |                     "value": {"from_node": "f"}},
        |       "result": true}}""".stripMargin
    val g2 =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "d": {"process_id": "apply_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |                      "target_dimension": "idx",
         |                      "process": {"process_graph": $cbLast}},
         |        "result": true}
         |}}""".stripMargin
    val out2 = ProcessGraph.execute(spark, g2, _ => cube)
    val b2 = out2.df.filter(col("band") === "B2").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(b2 == Map(0L -> 10.0, 1L -> 20.0, 2L -> 20.0))
  }

  test("resample_spatial projection argument warps through the Crs registry") {
    val df = Seq((12.5, 45.25, "B1", 7.0)).toDF("x", "y", "band", "value")
    val xy = DataCube.fromTable(df, Seq("x", "y", "band"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial),
      crs = Some("EPSG:4326"))
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "w": {"process_id": "resample_spatial",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "projection": "EPSG:32633"},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => xy)
    assert(out.meta.crs.contains("EPSG:32633"))
    val r = out.df.collect()(0)
    val (e, n) = ReferenceForms.utmForward(12.5, 45.25, 33)
    assert(r.getDouble(0) == e && r.getDouble(1) == n)
  }

  test("apply_neighborhood graph node: 2-D tiled window reduce") {
    val df = (for { x <- 0 to 4; y <- 0 to 4 }
      yield (x.toDouble, y.toDouble, 1.0)).toDF("x", "y", "value")
    val xy = DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "apply_neighborhood",
        |        "arguments": {"data": {"from_node": "l"},
        |          "size": [{"dimension": "x", "value": 3},
        |                   {"dimension": "y", "value": 3}],
        |          "process": {"process_graph": {
        |            "s": {"process_id": "sum",
        |                  "arguments": {"data": {"from_parameter": "data"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => xy)
    val m = out.df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m == Map((0L, 0L) -> 4.0, (0L, 3L) -> 6.0,
      (3L, 0L) -> 6.0, (3L, 3L) -> 9.0))
  }

  test("save_result terminates a canonical graph and sinks parquet") {
    val out = java.nio.file.Files.createTempDirectory("graft_save").toString + "/res"
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "r": {"process_id": "reduce_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |          "reducer": {"process_graph": {
         |            "s": {"process_id": "sum",
         |                  "arguments": {"data": {"from_parameter": "data"}},
         |                  "result": true}}}}},
         |  "save": {"process_id": "save_result",
         |           "arguments": {"data": {"from_node": "r"},
         |                         "format": "Parquet",
         |                         "options": {"path": "$out"}},
         |           "result": true}
         |}}""".stripMargin
    val res = ProcessGraph.execute(spark, graph, _ => cube)
    val written = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(written == Map("B1" -> 103.0, "B2" -> 30.0))
    assert(res.df.count() == 2) // pass-through cube still usable
    intercept[IllegalArgumentException] {
      ProcessGraph.execute(spark,
        graph.replace("\"Parquet\"", "\"GTiff\""), _ => cube)
    }
  }

  test("eq with delta and text/date processes evaluate in callbacks") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "a": {"process_id": "apply",
        |        "arguments": {"data": {"from_node": "l"},
        |          "process": {"process_graph": {
        |            "e": {"process_id": "eq",
        |                  "arguments": {"x": {"from_parameter": "x"}, "y": 10,
        |                                "delta": 1.5}},
        |            "i": {"process_id": "if",
        |                  "arguments": {"value": {"from_node": "e"},
        |                                "accept": 1, "reject": 0},
        |                  "result": true}}}}},
        |  "r": {"process_id": "reduce_dimension",
        |        "arguments": {"data": {"from_node": "a"}, "dimension": "t",
        |          "reducer": {"process_graph": {
        |            "s": {"process_id": "sum",
        |                  "arguments": {"data": {"from_parameter": "data"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // only B2's 10.0 is within 1.5 of 10
    assert(out == Map("B1" -> 0.0, "B2" -> 1.0))
  }

  test("crawl family composes as a graph: load → html_extract → line_dedup → save") {
    import graft.pipeline.{Chunking, Dedup, TextAnalysis}
    // a 3-doc crawl slice as a text-valued cube (dims = doc_id)
    val pages = Seq(
      (1L, "<html><body><p>Shared banner line. Unique alpha body</p></body></html>"),
      (2L, "<html><body><p>shared banner line. Unique beta body</p></body></html>"),
      (3L, "<html><script>var x=1;</script><body><p>Unique gamma body</p></body></html>"))
    val docs = pages.toDF("doc_id", "html")
    val crawlCube = DataCube.fromTable(
      docs.withColumnRenamed("html", "text"), Seq("doc_id"), "text")
    val sink = java.nio.file.Files.createTempDirectory("graft_pg_crawl")
      .resolve("out.parquet").toString
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "crawl"}},
         |  "x": {"process_id": "apply",
         |        "arguments": {"data": {"from_node": "l"},
         |          "process": {"process_graph": {
         |            "h": {"process_id": "html_extract",
         |                  "arguments": {"x": {"from_parameter": "x"}},
         |                  "result": true}}}}},
         |  "d": {"process_id": "line_dedup",
         |        "arguments": {"data": {"from_node": "x"},
         |                      "dimension": "doc_id", "separator": "\\\\. "}},
         |  "s": {"process_id": "save_result",
         |        "arguments": {"data": {"from_node": "d"}, "format": "parquet",
         |                      "options": {"path": "$sink"}},
         |        "result": true}
         |}}""".stripMargin
    ProcessGraph.execute(spark, graph, _ => crawlCube)
    // truth: the same chain composed directly on the DataFrame API
    val direct = Dedup.lineDedup(
      docs.select(col("doc_id"),
        TextAnalysis.htmlExtract(col("html")).as("text")),
      "doc_id", col("text"), "\\. ")
      .select(col("doc_id"), col("kept_text").as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sunk = spark.read.parquet(sink)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sunk == direct)
    // the dedup actually bit: doc 2's banner copy is gone, doc 1 keeps it
    assert(sunk(1L).contains("Shared banner line"))
    assert(!sunk(2L).toLowerCase.contains("banner"))
    assert(sunk(3L) == "Unique gamma body")
  }

  test("scalar crawl nodes evaluate in callbacks: canonicalize → host → domain") {
    val urls = Seq(
      (1L, "HTTP://WWW.Shop.Example.co.uk:80/p?utm_source=x&id=2#f"),
      (2L, "https://sub.city.kobe.jp/page"))
    val c = DataCube.fromTable(urls.toDF("doc_id", "text"), Seq("doc_id"), "text")
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "u"}},
        |  "a": {"process_id": "apply",
        |        "arguments": {"data": {"from_node": "l"},
        |          "process": {"process_graph": {
        |            "cn": {"process_id": "canonicalize_url",
        |                   "arguments": {"x": {"from_parameter": "x"}}},
        |            "h": {"process_id": "url_host",
        |                  "arguments": {"x": {"from_node": "cn"}}},
        |            "d": {"process_id": "registered_domain",
        |                  "arguments": {"x": {"from_node": "h"}},
        |                  "result": true}}}},
        |        "result": true}
        |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => c)
      .df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "example.co.uk")
    // full-PSL shape: *.kobe.jp makes city.kobe.jp... an exception rule —
    // !city.kobe.jp registers at city.kobe.jp itself
    assert(out(2L) == "city.kobe.jp")
  }

  test("LLM-pipeline nodes: graph chain == DataFrame chain at sf0.001") {
    // the r11 composition story: quality gate, PII scrub, MinHash-LSH
    // survivor dedup, LM-score filter, hash split, and sequence packing as
    // graph nodes must reproduce the hand-built DataFrame chain exactly
    import graft.pipeline.{Dedup, LanguageModel, Repetition, Sampling, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))

    val graph =
      """{"process_graph": {
        |  "l":  {"process_id": "load_collection", "arguments": {"id": "documents"}},
        |  "q":  {"process_id": "quality_filter",
        |         "arguments": {"data": {"from_node": "l"},
        |                       "min_tokens": 5, "min_ttr": 0.2}},
        |  "rp": {"process_id": "pii_redact",
        |         "arguments": {"data": {"from_node": "q"}}},
        |  "mh": {"process_id": "minhash_dedup_survivors",
        |         "arguments": {"data": {"from_node": "rp"}, "threshold": 0.5}},
        |  "lm": {"process_id": "lm_score",
        |         "arguments": {"data": {"from_node": "mh"}, "max_xent": 6.0}},
        |  "sp": {"process_id": "split",
        |         "arguments": {"data": {"from_node": "lm"},
        |                       "fractions": {"train": 0.8, "test": 0.2},
        |                       "keep": "train"}},
        |  "pk": {"process_id": "pack_sequences",
        |         "arguments": {"data": {"from_node": "sp"},
        |                       "budget": 128, "buckets": 16},
        |         "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, graph,
        { case "documents" => DataCube.fromTable(docs, Seq("doc_id"), "text") })
      .df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val v = col("text")
    val gated = docs.filter(TextAnalysis.tokenCount(v) >= 5 &&
      round(Repetition.typeTokenRatio(v), 6) >= 0.2)
    val red = gated.withColumn("text", TextAnalysis.redactPii(col("text")))
    val surv = Dedup.survivorsCollapsed(red, "doc_id", col("text"),
      threshold = 0.5)
    val lmKeep = LanguageModel
      .charTrigramScore(surv, "doc_id", col("text"), lit(true))
      .filter(col("xent") <= 6.0).select(col("doc_id"))
    val kept = surv.join(lmKeep, Seq("doc_id"), "left_semi")
    val train = kept.filter(Sampling.splitColumn(col("doc_id"), "graft-split",
      Seq("train" -> 0.8, "test" -> 0.2)) === "train")
    val want = Sampling.packSequences(train, "doc_id",
        TextAnalysis.tokenCount(col("text")), 128, 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    assert(got.nonEmpty && got == want)
  }

  test("sample + dsir_weights / lm_score value modes == DataFrame twins") {
    import graft.pipeline.{Importance, LanguageModel, Sampling}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val coll: String => DataCube =
      { case "documents" => DataCube.fromTable(docs, Seq("doc_id"), "text") }

    val dsirGraph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "documents"}},
        |  "s": {"process_id": "sample",
        |        "arguments": {"data": {"from_node": "l"}, "fraction": 0.5}},
        |  "w": {"process_id": "dsir_weights",
        |        "arguments": {"data": {"from_node": "s"}}, "result": true}
        |}}""".stripMargin
    val gotW = ProcessGraph.execute(spark, dsirGraph, coll)
      .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sampled = Sampling.sampleByHash(docs, "doc_id", 0.5, "graft-sample")
    val wantW = Importance.dsirWeights(sampled, "doc_id", col("text"), lit(true))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("score"))).toMap
    assert(gotW.nonEmpty && gotW == wantW)

    val lmGraph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "documents"}},
        |  "x": {"process_id": "lm_score",
        |        "arguments": {"data": {"from_node": "l"}}, "result": true}
        |}}""".stripMargin
    val gotX = ProcessGraph.execute(spark, lmGraph, coll)
      .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantX = LanguageModel
      .charTrigramScore(docs, "doc_id", col("text"), lit(true))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("xent"))).toMap
    assert(gotX.nonEmpty && gotX == wantX)
  }

  test("embedding nodes semdedup / ann_topk == DataFrame twins") {
    import graft.pipeline.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val coll: String => DataCube = {
      case "emb" => DataCube.fromTable(emb, Seq("vec_id"), "embedding")
      case "q" => DataCube.fromTable(emb.filter(col("vec_id") % 25 === 0),
        Seq("vec_id"), "embedding")
    }
    val sdGraph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "emb"}},
        |  "s": {"process_id": "semdedup",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "threshold": 0.95, "centroids": 16},
        |        "result": true}
        |}}""".stripMargin
    val gotS = ProcessGraph.execute(spark, sdGraph, coll)
      .df.select("vec_id").collect().map(_.getLong(0)).toSet
    val wantS = Similarity.semDedupSurvivors(emb, "vec_id", "embedding",
        0.95, 16).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotS.nonEmpty && gotS == wantS)

    val annGraph =
      """{"process_graph": {
        |  "q": {"process_id": "load_collection", "arguments": {"id": "q"}},
        |  "c": {"process_id": "load_collection", "arguments": {"id": "emb"}},
        |  "a": {"process_id": "ann_topk",
        |        "arguments": {"queries": {"from_node": "q"},
        |                      "corpus": {"from_node": "c"},
        |                      "k": 5, "centroids": 16},
        |        "result": true}
        |}}""".stripMargin
    val gotA = ProcessGraph.execute(spark, annGraph, coll).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    val cents = Similarity.strideCentroids(emb, "vec_id", "embedding", 16)
    val wantA = Similarity.ivfTopK(emb.filter(col("vec_id") % 25 === 0),
        emb, "vec_id", "embedding", cents, 5)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    assert(gotA.nonEmpty && gotA == wantA)
  }

  test("scalar text-analysis nodes in apply callbacks == direct Columns") {
    import graft.pipeline.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    val c = DataCube.fromTable(docs, Seq("doc_id"), "text")
    def applyGraph(node: String) =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "d"}},
         |  "a": {"process_id": "apply",
         |        "arguments": {"data": {"from_node": "l"},
         |          "process": {"process_graph": {
         |            "f": {"process_id": "$node",
         |                  "arguments": {"x": {"from_parameter": "x"}},
         |                  "result": true}}}},
         |        "result": true}
         |}}""".stripMargin
    def run(node: String): Map[Long, Any] =
      ProcessGraph.execute(spark, applyGraph(node), _ => c)
        .df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    def want(f: Column => Column): Map[Long, Any] =
      docs.select(col("doc_id"), f(col("text"))).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(run("lang_id") == want(TextAnalysis.langId))
    assert(run("token_count") == want(TextAnalysis.tokenCount))
    assert(run("subword_count") == want(TextAnalysis.subwordCount))
    assert(run("quality_score") == want(TextAnalysis.qualityScore))
    assert(run("fingerprint") == want(TextAnalysis.fingerprint))
    assert(run("content_hash") == want(TextAnalysis.contentHash))
    assert(run("redact_pii") == want(TextAnalysis.redactPii))
  }

  test("simhash / ngram-jaccard dedup nodes == DataFrame twins") {
    import graft.pipeline.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val coll: String => DataCube =
      _ => DataCube.fromTable(docs, Seq("doc_id"), "text")
    def g(node: String, extra: String) =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "d"}},
         |  "s": {"process_id": "$node",
         |        "arguments": {"data": {"from_node": "l"}$extra},
         |        "result": true}
         |}}""".stripMargin
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    val gotSim = ids(ProcessGraph.execute(spark,
      g("simhash_dedup_survivors", """, "max_hamming": 3"""), coll).df)
    val wantSim = ids(Dedup.survivors(docs, "doc_id",
      Dedup.simhashNearDups(docs, "doc_id", col("text"), Seq.empty, 3)))
    assert(gotSim.nonEmpty && gotSim == wantSim)

    val gotJac = ids(ProcessGraph.execute(spark,
      g("ngram_jaccard_dedup", """, "n": 3, "threshold": 0.5"""), coll).df)
    val wantJac = ids(Dedup.survivors(docs, "doc_id",
      Dedup.ngramJaccardNearDups(docs, "doc_id", col("text"), Seq.empty, 3, 0.5)))
    assert(gotJac.nonEmpty && gotJac == wantJac)
  }

  test("decontaminate node (two cube inputs) and chunk_docs == twins") {
    import graft.pipeline.{Chunking, Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
    val trainDocs = docs.filter(col("doc_id") % 50 =!= 0)
    val coll: String => DataCube = {
      case "eval" => DataCube.fromTable(evalDocs, Seq("doc_id"), "text")
      case "train" => DataCube.fromTable(trainDocs, Seq("doc_id"), "text")
    }
    def g(extra: String) =
      s"""{"process_graph": {
         |  "e": {"process_id": "load_collection", "arguments": {"id": "eval"}},
         |  "t": {"process_id": "load_collection", "arguments": {"id": "train"}},
         |  "d": {"process_id": "decontaminate",
         |        "arguments": {"data": {"from_node": "e"},
         |                      "train": {"from_node": "t"}$extra},
         |        "result": true}
         |}}""".stripMargin
    val scored = Dedup.ngramContainment(trainDocs, evalDocs, "doc_id",
      col("text"), 3)

    // filter mode: keep docs at containment ≤ 0.64 (the corpus median —
    // sf0.001 eval containments span 0.55..1.0, so the gate splits the set)
    val gotF = ProcessGraph.execute(spark, g(""", "max_containment": 0.64"""),
      coll).df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dropIds = scored.filter(col("containment") > 0.64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wantF = evalDocs.select("doc_id").collect().map(_.getLong(0)).toSet -- dropIds
    assert(gotF.nonEmpty && dropIds.nonEmpty && gotF == wantF)

    // value mode: containment becomes the cube value
    val gotV = ProcessGraph.execute(spark, g(""), coll)
      .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantV = scored.select(col("doc_id"), col("containment")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotV.nonEmpty &&
      wantV.forall { case (k, v) => gotV.get(k).contains(v) })

    // fuzzy_join (two cube inputs): R-S jaccard pair table == twin
    val fjGraph =
      """{"process_graph": {
        |  "e": {"process_id": "load_collection", "arguments": {"id": "eval"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "train"}},
        |  "f": {"process_id": "fuzzy_join",
        |        "arguments": {"data": {"from_node": "e"},
        |                      "right": {"from_node": "t"},
        |                      "threshold": 0.5},
        |        "result": true}
        |}}""".stripMargin
    val gotFJ = ProcessGraph.execute(spark, fjGraph, coll).df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val wantFJ = Dedup.jaccardJoin(evalDocs, trainDocs, "doc_id",
        col("text"), 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotFJ == wantFJ)

    // incremental_dedup (two cube inputs): shard docs whose fingerprint
    // exists in the train cube are dropped, exact anti semantics
    val incGraph =
      """{"process_graph": {
        |  "e": {"process_id": "load_collection", "arguments": {"id": "eval"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "train"}},
        |  "i": {"process_id": "incremental_dedup",
        |        "arguments": {"data": {"from_node": "e"},
        |                      "corpus": {"from_node": "t"},
        |                      "process": null,
        |                      "expected_keys": 4096},
        |        "result": true}
        |}}""".stripMargin
    val gotI = ProcessGraph.execute(spark, incGraph, coll)
      .df.select("doc_id").collect().map(_.getLong(0)).toSet
    val wantI = Dedup.incrementalNew(evalDocs, trainDocs, "doc_id",
        TextAnalysis.contentHash(col("text")), 4096)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotI == wantI && gotI.nonEmpty)

    // chunk_docs: (doc_id, chunk_id) dims, chunk text as value
    val chunkGraph =
      """{"process_graph": {
        |  "e": {"process_id": "load_collection", "arguments": {"id": "eval"}},
        |  "c": {"process_id": "chunk_docs",
        |        "arguments": {"data": {"from_node": "e"},
        |                      "window": 8, "stride": 4},
        |        "result": true}
        |}}""".stripMargin
    val gotC = ProcessGraph.execute(spark, chunkGraph, coll).df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val wantC = Chunking.chunkDocs(evalDocs, "doc_id", col("text"), 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(gotC.nonEmpty && gotC == wantC)
  }
}
