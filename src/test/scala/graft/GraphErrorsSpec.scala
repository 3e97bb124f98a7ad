package graft

import graft.core._
import graft.plans.ProcessGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The openEO TYPED ERROR contract, asserted through the GRAPH entry
  * point (reference: openeo_processes_dask exceptions.py:1-114 and the
  * named raises across its process implementations): each documented
  * failure mode must surface the reference's exception NAME in the error,
  * not a generic message — that name is API surface a client dispatches
  * on. Plan-time errors throw from execute(); lazily-raised ones (the
  * merge_cubes overlap resolver) surface at the first action.
  */
class GraphErrorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  /** (t, band) cube with KNOWN band labels B1/B2 — label-dependent
    * contracts (ndvi band resolution, rename_labels) check against these
    * at metadata scale, like the reference checks xarray coords.
    */
  private def cube: DataCube = {
    val df = Seq(
      ("2024-01-01 00:00:00", "B1", 1.0), ("2024-01-02 00:00:00", "B1", 3.0),
      ("2024-01-01 00:00:00", "B2", 10.0), ("2024-01-02 00:00:00", "B2", 20.0))
      .toDF("t", "band", "value").withColumn("t", to_timestamp(col("t")))
    val c = DataCube.fromTable(df, Seq("t", "band"), "value",
      Map("t" -> DimType.Temporal, "band" -> DimType.Bands))
    c.copy(labels = Map("band" -> Seq("B1", "B2")))
  }

  /** spatial (x, y) cube for the kernel case */
  private def xyCube: DataCube = {
    val df = (for (y <- 0 to 3; x <- 0 to 3) yield (x.toDouble, y.toDouble, 1.0))
      .toDF("x", "y", "value")
    DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
  }

  /** cube with TWO temporal dimensions (t and t2) */
  private def twoTemporalCube: DataCube = {
    val df = Seq(("2024-01-01 00:00:00", "2024-02-01 00:00:00", 1.0))
      .toDF("t", "t2", "value")
      .withColumn("t", to_timestamp(col("t")))
      .withColumn("t2", to_timestamp(col("t2")))
    DataCube.fromTable(df, Seq("t", "t2"), "value",
      Map("t" -> DimType.Temporal, "t2" -> DimType.Temporal))
  }

  private def g(body: String): String =
    s"""{"process_graph": {
       |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
       |  $body
       |}}""".stripMargin

  /** run a graph against `cube` and return the full message chain */
  private def errorOf(graph: String, data: DataCube = cube,
      act: Boolean = false): String =
    try {
      val out = ProcessGraph.executeValue(spark, graph, _ => data)
      if (act) out match {
        case ProcessGraph.CubeV(c) => c.df.collect()
        case ProcessGraph.TableV(df) => df.collect()
        case _ =>
      }
      fail(s"graph was expected to raise: $graph")
    } catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    }

  private val reducerMean =
    """{"process_graph": {"m": {"process_id": "mean",
      |  "arguments": {"data": {"from_parameter": "data"}},
      |  "result": true}}}""".stripMargin

  // ---- the pinned table: one case per documented failure mode ----

  test("TemporalExtentEmpty: filter_temporal with both bounds null") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_temporal",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "extent": [null, null]}, "result": true}""".stripMargin))
    assert(e.contains("TemporalExtentEmpty"), e)
  }

  test("QuantilesParameterConflict: probabilities and q together") {
    val e = errorOf(g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |        "reducer": {"process_graph": {
         |          "q": {"process_id": "quantiles",
         |                "arguments": {"data": {"from_parameter": "data"},
         |                              "probabilities": [0.5], "q": 4},
         |                "result": true}}}}, "result": true}""".stripMargin))
    assert(e.contains("QuantilesParameterConflict"), e)
  }

  test("QuantilesParameterMissing: neither probabilities nor q") {
    val e = errorOf(g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |        "reducer": {"process_graph": {
         |          "q": {"process_id": "quantiles",
         |                "arguments": {"data": {"from_parameter": "data"}},
         |                "result": true}}}}, "result": true}""".stripMargin))
    assert(e.contains("QuantilesParameterMissing"), e)
  }

  test("DimensionNotAvailable: reduce_dimension over an absent dimension") {
    val e = errorOf(g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "zz",
         |                    "reducer": $reducerMean}, "result": true}""".stripMargin))
    assert(e.contains("DimensionNotAvailable"), e)
  }

  test("DimensionNotAvailable: apply_dimension over an absent dimension") {
    val e = errorOf(g(
      s""""d": {"process_id": "apply_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "zz",
         |        "process": {"process_graph": {
         |          "s": {"process_id": "sort",
         |                "arguments": {"data": {"from_parameter": "data"}},
         |                "result": true}}}}, "result": true}""".stripMargin))
    assert(e.contains("DimensionNotAvailable"), e)
  }

  test("DimensionNotAvailable: cumsum along an absent dimension") {
    val e = errorOf(g(
      """"cs": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_node": "l"}, "dimension": "zz"},
        |       "result": true}""".stripMargin))
    assert(e.contains("DimensionNotAvailable"), e)
  }

  test("TooManyDimensions: filter_temporal needs `dimension` with two temporal dims") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_temporal",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "extent": ["2024-01-01", "2024-03-01"]},
        |      "result": true}""".stripMargin), data = twoTemporalCube)
    assert(e.contains("TooManyDimensions"), e)
  }

  test("KernelDimensionsUneven: apply_kernel with an even-sized kernel") {
    val e = errorOf(g(
      """"k": {"process_id": "apply_kernel",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "kernel": [[1, 1], [1, 1]]}, "result": true}""".stripMargin),
      data = xyCube)
    assert(e.contains("KernelDimensionsUneven"), e)
  }

  test("OverlapResolverMissing: merge_cubes overlap without a resolver") {
    // partial band overlap (B2 on both sides, non-null) — the error is
    // raised DISTRIBUTED (raise_error column), so it surfaces on action
    val e = errorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B2"]}},
        |  "m": {"process_id": "merge_cubes",
        |      "arguments": {"cube1": {"from_node": "l"},
        |                    "cube2": {"from_node": "f"}},
        |      "result": true}""".stripMargin), act = true)
    assert(e.contains("OverlapResolverMissing"), e)
  }

  test("LabelExists: rename_labels onto an existing label") {
    val e = errorOf(g(
      """"r": {"process_id": "rename_labels",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |                    "source": ["B1"], "target": ["B2"]},
        |      "result": true}""".stripMargin))
    assert(e.contains("LabelExists"), e)
  }

  test("LabelNotAvailable: rename_labels from an absent label") {
    val e = errorOf(g(
      """"r": {"process_id": "rename_labels",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |                    "source": ["B9"], "target": ["B10"]},
        |      "result": true}""".stripMargin))
    assert(e.contains("LabelNotAvailable"), e)
  }

  test("LabelMismatch: rename_labels with uneven source/target lists") {
    val e = errorOf(g(
      """"r": {"process_id": "rename_labels",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |                    "source": ["B1", "B2"], "target": ["X"]},
        |      "result": true}""".stripMargin))
    assert(e.contains("LabelMismatch"), e)
  }

  test("DimensionLabelCountMismatch: add_dimension over an existing name") {
    val e = errorOf(g(
      """"a": {"process_id": "add_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "name": "band",
        |                    "label": "x"}, "result": true}""".stripMargin))
    assert(e.contains("DimensionLabelCountMismatch"), e)
  }

  test("DimensionLabelCountMismatch: drop_dimension of a 2-label dimension") {
    val e = errorOf(g(
      """"d": {"process_id": "drop_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "name": "band"},
        |      "result": true}""".stripMargin))
    assert(e.contains("DimensionLabelCountMismatch: 'band' has 2 labels"), e)
  }

  test("ArrayElementParameterMissing: array_element without index or label") {
    val e = errorOf(g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
         |        "reducer": {"process_graph": {
         |          "e": {"process_id": "array_element",
         |                "arguments": {"data": {"from_parameter": "data"}},
         |                "result": true}}}}, "result": true}""".stripMargin))
    assert(e.contains("ArrayElementParameterMissing"), e)
  }

  test("ArrayElementParameterConflict: array_element with index AND label") {
    val e = errorOf(g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
         |        "reducer": {"process_graph": {
         |          "e": {"process_id": "array_element",
         |                "arguments": {"data": {"from_parameter": "data"},
         |                              "index": 0, "label": "B1"},
         |                "result": true}}}}, "result": true}""".stripMargin))
    assert(e.contains("ArrayElementParameterConflict"), e)
  }

  test("DimensionAmbiguous: ndvi without a bands dimension") {
    val e = errorOf(g(
      """"n": {"process_id": "ndvi",
        |      "arguments": {"data": {"from_node": "l"}}, "result": true}""".stripMargin),
      data = xyCube)
    assert(e.contains("DimensionAmbiguous"), e)
  }

  test("NirBandAmbiguous / RedBandAmbiguous: unresolvable ndvi bands") {
    val eNir = errorOf(g(
      """"n": {"process_id": "ndvi",
        |      "arguments": {"data": {"from_node": "l"}, "nir": "B8",
        |                    "red": "B1"}, "result": true}""".stripMargin))
    assert(eNir.contains("NirBandAmbiguous"), eNir)
    val eRed = errorOf(g(
      """"n": {"process_id": "ndvi",
        |      "arguments": {"data": {"from_node": "l"}, "nir": "B2",
        |                    "red": "B4"}, "result": true}""".stripMargin))
    assert(eRed.contains("RedBandAmbiguous"), eRed)
  }

  test("BandExists: ndvi target_band collides with an existing band") {
    val e = errorOf(g(
      """"n": {"process_id": "ndvi",
        |      "arguments": {"data": {"from_node": "l"}, "nir": "B2",
        |                    "red": "B1", "target_band": "B1"},
        |      "result": true}""".stripMargin))
    assert(e.contains("BandExists"), e)
  }

  test("UnitMismatch: vector_buffer meters over a geographic CRS") {
    // a vector frame that CARRIES its crs (EPSG:4326 = degrees): buffering
    // by a meter distance is the reference's UnitMismatch
    // (geometries.py:127-135)
    val geoms = Seq((1L, "Point", Seq((1.0, 2.0)), "EPSG:4326"))
      .toDF("geom_id", "geom_type", "_coords", "crs")
      .withColumn("geometry",
        expr("transform(_coords, c -> named_struct('x', c._1, 'y', c._2))"))
      .drop("_coords")
    val vcube = DataCube(geoms,
      CubeMetadata(Seq(CubeDim("geom_id", DimType.Other)), None, "geom_id"))
    val e = errorOf(g(
      """"b": {"process_id": "vector_buffer",
        |      "arguments": {"geometries": {"from_node": "l"},
        |                    "distance": 100}, "result": true}""".stripMargin),
      data = vcube)
    assert(e.contains("UnitMismatch"), e)
  }

  test("UnitMismatch: mixed-CRS table with a geographic row later on") {
    // the probe must be an existence filter, not an arbitrary first-row
    // sample: a projected row sampled first must not mask a geographic
    // row elsewhere in the table
    val geoms = Seq(
      (1L, "Point", Seq((500000.0, 4649776.0)), "EPSG:32632"),
      (2L, "Point", Seq((1.0, 2.0)), "EPSG:4326"))
      .toDF("geom_id", "geom_type", "_coords", "crs")
      .withColumn("geometry",
        expr("transform(_coords, c -> named_struct('x', c._1, 'y', c._2))"))
      .drop("_coords")
    val vcube = DataCube(geoms,
      CubeMetadata(Seq(CubeDim("geom_id", DimType.Other)), None, "geom_id"))
    val e = errorOf(g(
      """"b": {"process_id": "vector_buffer",
        |      "arguments": {"geometries": {"from_node": "l"},
        |                    "distance": 100}, "result": true}""".stripMargin),
      data = vcube)
    assert(e.contains("UnitMismatch"), e)
  }

  test("ProcessUnsupported: unknown process id") {
    val e = errorOf(g(
      """"u": {"process_id": "definitely_not_a_process",
        |      "arguments": {"data": {"from_node": "l"}}, "result": true}""".stripMargin))
    assert(e.contains("ProcessUnsupported"), e)
  }

  test("ProcessParameterMissing: unbound from_parameter reference") {
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "m": {"process_id": "multiply",
        |                "arguments": {"x": {"from_parameter": "nope"},
        |                              "y": 2}, "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("ProcessParameterMissing"), e)
  }

  test("GeometryInvalid: mask_polygon with no polygon in the GeoJSON") {
    val e = errorOf(g(
      """"m": {"process_id": "mask_polygon",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "mask": {"type": "FeatureCollection", "features": []}},
        |      "result": true}""".stripMargin), data = xyCube)
    assert(e.contains("GeometryInvalid"), e)
  }

  // ---- the 10 remaining reference error classes (exceptions.py:17-113),
  // pinned as WIRE-GRAPH behavior ----

  test("ArrayNotLabeled: array_element label access without a labeled context") {
    // `apply`'s scalar context carries no dimension labels — the label
    // parameter has nothing to resolve against (reference arrays.py:86-90)
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "el": {"process_id": "array_element",
        |                 "arguments": {"data": {"from_parameter": "x"},
        |                               "label": "B1"}, "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("ArrayNotLabeled"), e)
  }

  test("ArrayElementNotAvailable: reduce callback addresses an absent band label") {
    val e = errorOf(g(
      """"r": {"process_id": "reduce_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |        "reducer": {"process_graph": {
        |          "el": {"process_id": "array_element",
        |                 "arguments": {"data": {"from_parameter": "data"},
        |                               "label": "B9"}, "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("ArrayElementNotAvailable"), e)
  }

  /** `cube` without its 2024-01-02 B1 cell: that series holds only B2 */
  private def sparseCube: DataCube =
    cube.withDf(_.filter(!(col("t") === to_timestamp(lit("2024-01-02")) &&
      col("band") === "B1"))).copy(labels = Map("band" -> Seq("B1", "B2")))

  private def cells(c: DataCube): Set[(String, String, java.lang.Double)] =
    c.df.select(col("t").cast("string"), col("band"), col("value"))
      .as[(String, String, java.lang.Double)].collect().toSet

  test("a label-reading reduce_dimension reads each series' own labels") {
    // B2 − B1 per day: 2024-01-02 has no B1, so its difference is null
    // (indexing that series by the dimension's labels read past its end)
    val out = ProcessGraph.execute(spark, g(
      """"r": {"process_id": "reduce_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |        "reducer": {"process_graph": {
        |          "b1": {"process_id": "array_element",
        |                 "arguments": {"data": {"from_parameter": "data"},
        |                               "label": "B1"}},
        |          "b2": {"process_id": "array_element",
        |                 "arguments": {"data": {"from_parameter": "data"},
        |                               "label": "B2"}},
        |          "d": {"process_id": "subtract",
        |                "arguments": {"x": {"from_node": "b2"},
        |                              "y": {"from_node": "b1"}},
        |                "result": true}}}},
        |      "result": true}""".stripMargin), _ => sparseCube)
    val got = out.df.select(col("t").cast("string"), col("value"))
      .as[(String, java.lang.Double)].collect().toSet
    assert(got == Set(("2024-01-01 00:00:00", 9.0), ("2024-01-02 00:00:00", null)))
  }

  test("a label-reading apply_dimension reads each series' own labels") {
    // every band minus the day's B2, through array_apply's context: the
    // series keep their labels, and the one-band series resolves B2 too
    val out = ProcessGraph.execute(spark, g(
      """"a": {"process_id": "apply_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |        "process": {"process_graph": {
        |          "b2": {"process_id": "array_element",
        |                 "arguments": {"data": {"from_parameter": "data"},
        |                               "label": "B2"}},
        |          "m": {"process_id": "array_apply",
        |                "arguments": {"data": {"from_parameter": "data"},
        |                  "context": {"from_node": "b2"},
        |                  "process": {"process_graph": {
        |                    "s": {"process_id": "subtract",
        |                          "arguments": {"x": {"from_parameter": "x"},
        |                            "y": {"from_parameter": "context"}},
        |                          "result": true}}}},
        |                "result": true}}}},
        |      "result": true}""".stripMargin), _ => sparseCube)
    assert(cells(out) == Set(("2024-01-01 00:00:00", "B1", -9.0),
      ("2024-01-01 00:00:00", "B2", 0.0), ("2024-01-02 00:00:00", "B2", 0.0)))
  }

  test("BandFilterParameterMissing: filter_bands of a band the known labels lack, with no job") {
    val (e, jobs) = JobCount(errorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B1", "B9"]},
        |      "result": true}""".stripMargin)))
    assert(e.contains("BandFilterParameterMissing") && e.contains("B9"), e)
    assert(jobs == 0, s"$jobs Spark jobs ran before the error")
  }

  test("ArrayLabelConflict: array_concat of labeled arrays sharing a label") {
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "c1": {"process_id": "array_create_labeled",
        |                 "arguments": {"data": [1, 2], "labels": ["a", "b"]}},
        |          "c2": {"process_id": "array_create_labeled",
        |                 "arguments": {"data": [3], "labels": ["a"]}},
        |          "cc": {"process_id": "array_concat",
        |                 "arguments": {"array1": {"from_node": "c1"},
        |                               "array2": {"from_node": "c2"}},
        |                 "result": true}}}},
        |      "result": true}""".stripMargin), act = true)
    assert(e.contains("ArrayLabelConflict"), e)
  }

  test("ArrayLengthMismatch: array_create_labeled with uneven lists") {
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "c1": {"process_id": "array_create_labeled",
        |                 "arguments": {"data": [1, 2, 3], "labels": ["a", "b"]},
        |                 "result": true}}}},
        |      "result": true}""".stripMargin), act = true)
    assert(e.contains("ArrayLengthMismatch"), e)
  }

  test("ModelNotFound: predict_random_forest with an unresolved model") {
    val e = errorOf(g(
      """"p": {"process_id": "predict_random_forest",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "model": "never-loaded", "dimension": "band"},
        |      "result": true}""".stripMargin))
    assert(e.contains("ModelNotFound"), e)
  }

  test("DimensionMissing: filter_bands on a cube without a band dimension") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B1"]},
        |      "result": true}""".stripMargin), data = xyCube)
    assert(e.contains("DimensionMissing"), e)
  }

  test("BandFilterParameterMissing: filter_bands without the bands parameter") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}}, "result": true}""".stripMargin))
    assert(e.contains("BandFilterParameterMissing"), e)
  }

  test("NoDataAvailable: load_stac extent selecting zero items") {
    val fix = graft.queries.StacFixture.ensure()
    val graph =
      s"""{"process_graph": {
         |  "n": {"process_id": "load_stac",
         |        "arguments": {"url": "file://$fix/catalog.json",
         |          "temporal_extent": ["1999-01-01T00:00:00Z",
         |                              "1999-01-02T00:00:00Z"]},
         |        "result": true}}}""".stripMargin
    val e = errorOf(graph)
    assert(e.contains("NoDataAvailable"), e)
  }

  test("StacUrlUnsupported: load_stac over a URL that is not a file") {
    val graph =
      """{"process_graph": {
        |  "n": {"process_id": "load_stac",
        |        "arguments": {"url": "https://stac.example/api/v1/collections/s2"},
        |        "result": true}}}""".stripMargin
    val e = errorOf(graph)
    assert(e.contains(
      "StacUrlUnsupported: https://stac.example/api/v1/collections/s2"), e)
  }

  test("DimensionMismatch: mask carries temporal dims the data lacks") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "m": {"process_id": "load_collection", "arguments": {"id": "m"}},
        |  "k": {"process_id": "mask",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "mask": {"from_node": "m"}}, "result": true}
        |}}""".stripMargin
    val e = try {
      ProcessGraph.execute(spark, graph,
        id => if (id == "m") twoTemporalCube else cube)
      fail(s"graph was expected to raise: $graph")
    } catch {
      case ex: org.scalatest.exceptions.TestFailedException => throw ex
      case ex: Throwable => String.valueOf(ex.getMessage)
    }
    assert(e.contains("DimensionMismatch"), e)
  }

  test("MinMaxSwapped: clip with min above max") {
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "c": {"process_id": "clip",
        |                "arguments": {"x": {"from_parameter": "x"},
        |                              "min": 10, "max": 2}, "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("MinMaxSwapped"), e)
  }

  test("an optional number of the wrong type is an error, not its default") {
    // `k` defaults to 10 only when absent or null; a string is rejected
    val e = errorOf(g(
      """"b": {"process_id": "bm25",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "query": ["B1"], "k": "5"}, "result": true}""".stripMargin))
    assert(e.contains("bm25.k: not a number (StrV(5))"), e)
    val f = errorOf(g(
      """"r": {"process_id": "fit_regr_random_forest",
        |      "arguments": {"predictors": {"from_node": "l"},
        |                    "target": {"from_node": "l"}, "dimension": "band",
        |                    "num_trees": true}, "result": true}""".stripMargin))
    assert(f.contains("fit_regr_random_forest.num_trees: not a number (BoolV(true))"), f)
  }

  test("a wrong-typed string is an error, not a cast failure or its text") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_temporal",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": 5,
        |                    "extent": ["2024-01-01", null]}, "result": true}""".stripMargin))
    assert(e.contains("filter_temporal.dimension: not a string (NumV(5.0))"), e)
    val b = errorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B1", 2]},
        |      "result": true}""".stripMargin))
    assert(b.contains("filter_bands.bands: not a string (NumV(2.0))"), b)
  }

  test("a wrong-typed array argument is an error, not a cast failure") {
    val e = errorOf(g(
      """"f": {"process_id": "filter_bbox",
        |      "arguments": {"data": {"from_node": "l"}, "extent": "x"},
        |      "result": true}""".stripMargin), data = xyCube)
    assert(e.contains("filter_bbox.extent: not an array (StrV(x))"), e)
    val m = errorOf(g(
      """"f": {"process_id": "filter_bbox",
        |      "arguments": {"data": {"from_node": "l"}}, "result": true}""".stripMargin),
      data = xyCube)
    assert(m.contains("ProcessParameterRequired: filter_bbox.extent"), m)
  }

  test("a wrong-typed boolean is an error, not its default") {
    // "false" as a string must not read as the default `true`
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "t": {"process_id": "text_begins",
        |                "arguments": {"data": {"from_parameter": "x"},
        |                              "pattern": "B", "case_sensitive": "false"},
        |                "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("text_begins.case_sensitive: not a boolean (StrV(false))"), e)
  }

  test("a non-string node reference is an error, not a cast failure") {
    val e = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": 5},
        |        "process": {"process_graph": {
        |          "n": {"process_id": "absolute",
        |                "arguments": {"x": {"from_parameter": "x"}},
        |                "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(e.contains("from_node: not a string (5)"), e)
  }

  test("an object argument given as a string is an error, not a JSON parse failure") {
    val e = errorOf(
      """{"process_graph": {
        |  "l": {"process_id": "load_collection",
        |        "arguments": {"id": "c", "spatial_extent": "x"}, "result": true}
        |}}""".stripMargin)
    assert(e.contains("load_collection.spatial_extent: not an object (StrV(x))"), e)
  }

  test("a callback given as a string is an error naming the argument") {
    val e = errorOf(g(
      """"r": {"process_id": "reduce_dimension",
        |      "arguments": {"data": {"from_node": "l"}, "dimension": "t",
        |                    "reducer": "mean"}, "result": true}""".stripMargin))
    assert(e.contains("reduce_dimension.reducer: not a process graph (StrV(mean))"), e)
  }

  test("apply_neighborhood: a non-number size is an error, a null one is left out") {
    def graph(value: String): String = g(
      s""""n": {"process_id": "apply_neighborhood",
         |      "arguments": {"data": {"from_node": "l"},
         |        "size": [{"dimension": "x", "value": $value},
         |                 {"dimension": "y", "value": $value}],
         |        "process": {"process_graph": {
         |          "s": {"process_id": "sum",
         |                "arguments": {"data": {"from_parameter": "data"}},
         |                "result": true}}}},
         |      "result": true}""".stripMargin)
    val e = errorOf(graph("\"3\""), data = xyCube)
    assert(e.contains("apply_neighborhood.size: not a number (StrV(3))"), e)
    // null values leave both dimensions at 1: every cell is its own window
    val out = ProcessGraph.execute(spark, graph("null"), _ => xyCube)
    assert(out.df.collect().map(_.getAs[Double]("value")).toSet == Set(1.0))
  }

  test("resample_spatial takes an integer EPSG code as its projection") {
    val df = Seq((12.5, 45.25, 7.0), (13.0, 45.5, 8.0)).toDF("x", "y", "value")
    val lonLat = DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial), crs = Some("EPSG:4326"))
    def graph(projection: String): String = g(
      s""""w": {"process_id": "resample_spatial",
         |      "arguments": {"data": {"from_node": "l"}, "projection": $projection},
         |      "result": true}""".stripMargin)
    def rows(projection: String): Set[Seq[Any]] =
      ProcessGraph.execute(spark, graph(projection), _ => lonLat)
        .df.collect().map(_.toSeq).toSet
    val byCode = rows("3857")
    assert(byCode == rows("\"EPSG:3857\"") && byCode.size == 2, byCode)
    val e = errorOf(graph("3857.5"), data = lonLat)
    assert(e.contains("resample_spatial.projection: not a CRS (NumV(3857.5))"), e)
  }

  test("a missing required argument is ProcessParameterRequired, not a failed lookup") {
    val cs = errorOf(g(
      """"cs": {"process_id": "cumsum", "arguments": {"dimension": "t"},
        |       "result": true}""".stripMargin))
    assert(cs.contains("ProcessParameterRequired: cumsum.data"), cs)
    val ac = errorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "c": {"process_id": "array_concat",
        |                "arguments": {"array1": [1, 2]}, "result": true}}}},
        |      "result": true}""".stripMargin))
    assert(ac.contains("ProcessParameterRequired: array_concat.array2"), ac)
  }

  test("filter_bbox takes openEO's bounding-box object and the [w, e, s, n] array alike") {
    def rows(extent: String): Set[Seq[Any]] =
      ProcessGraph.execute(spark, g(
        s""""b": {"process_id": "filter_bbox",
           |      "arguments": {"data": {"from_node": "l"}, "extent": $extent},
           |      "result": true}""".stripMargin), _ => xyCube)
        .df.collect().map(_.toSeq).toSet
    val byObject = rows("""{"west": 1, "east": 2, "south": 0, "north": 1}""")
    assert(byObject == rows("[1, 2, 0, 1]"), byObject)
    assert(byObject.nonEmpty && byObject.size < 16, byObject)
  }

  // ---- structural errors: the whole graph is checked before any node runs ----

  /** the message of a graph rejected before any node ran (no collection
    * was loaded)
    */
  private def checkErrorOf(graph: String): String = {
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalArgumentException](ProcessGraph.executeValue(
      spark, graph, _ => { loads.incrementAndGet(); cube })).getMessage
    assert(loads.get == 0, s"a node ran before the graph was rejected: $e")
    e
  }

  test("a from_node cycle is an error naming its nodes, not a stack overflow") {
    val e = checkErrorOf(g(
      """"a": {"process_id": "absolute", "arguments": {"x": {"from_node": "b"}}},
        |  "b": {"process_id": "absolute", "arguments": {"x": {"from_node": "a"}},
        |        "result": true}""".stripMargin))
    assert(e.matches("ProcessGraphInvalid: cycle (a -> b -> a|b -> a -> b)"), e)
  }

  test("a graph or callback without exactly one result node is an error") {
    val two = checkErrorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B1"]},
        |      "result": true},
        |  "h": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B2"]},
        |      "result": true}""".stripMargin))
    assert(two.contains("ProcessGraphInvalid: need exactly one result node") &&
      two.contains("f") && two.contains("h"), two)
    val none = checkErrorOf(g(
      """"a": {"process_id": "apply",
        |      "arguments": {"data": {"from_node": "l"},
        |        "process": {"process_graph": {
        |          "n": {"process_id": "absolute",
        |                "arguments": {"x": {"from_parameter": "x"}}}}}},
        |      "result": true}""".stripMargin))
    assert(none.contains("ProcessGraphInvalid: need exactly one result node, found none"), none)
  }

  test("a dangling from_node is an error even in a node that is never evaluated") {
    val e = checkErrorOf(g(
      """"x": {"process_id": "absolute", "arguments": {"x": {"from_node": "nowhere"}}},
        |  "f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"}, "bands": ["B1"]},
        |      "result": true}""".stripMargin))
    assert(e.contains("ProcessGraphInvalid: node x: from_node nowhere"), e)
  }

  test("a from_parameter in the root graph fails before any node runs") {
    val e = checkErrorOf(g(
      """"f": {"process_id": "filter_bands",
        |      "arguments": {"data": {"from_node": "l"},
        |                    "bands": {"from_parameter": "bands"}},
        |      "result": true}""".stripMargin))
    assert(e.contains("ProcessParameterMissing: bands"), e)
  }

  test("an unknown process behind a label-reading reduce fails with zero Spark jobs") {
    def graph(rest: String): String = g(
      s""""r": {"process_id": "reduce_dimension",
         |      "arguments": {"data": {"from_node": "l"}, "dimension": "band",
         |        "reducer": {"process_graph": {
         |          "el": {"process_id": "array_element",
         |                 "arguments": {"data": {"from_parameter": "data"},
         |                               "label": "B2"}, "result": true}}}}$rest""".stripMargin)
    val unknown = graph("""},
      |  "u": {"process_id": "definitely_not_a_process",
      |        "arguments": {"data": {"from_node": "r"}}, "result": true}""".stripMargin)
    val (e, jobs) = JobCount(errorOf(unknown))
    assert(e.contains("ProcessUnsupported: definitely_not_a_process"), e)
    assert(jobs == 0, s"$jobs Spark jobs ran before the error")
    // the same reduce as the result reads the known band labels: no job
    // at graph time; without them it collects the labels, to equal rows
    val result = graph(""", "result": true}""")
    val (known, knownJobs) = JobCount(ProcessGraph.execute(spark, result, _ => cube))
    assert(knownJobs == 0, s"$knownJobs Spark jobs ran at graph time")
    val (bare, bareJobs) = JobCount(
      ProcessGraph.execute(spark, result, _ => cube.copy(labels = Map.empty)))
    assert(bareJobs > 0)
    assert(known.df.collect().toSet == bare.df.collect().toSet)
  }

  private def processGraphSource: String =
    ScalaSources.scalaSources("src/main/scala/graft/plans")
      .collectFirst { case (p, s) if p.endsWith("/ProcessGraph.scala") => s }.get

  test("the process-graph front end decodes its arguments without casts") {
    assert("asInstanceOf\\[".r.findAllIn(processGraphSource).size == 0,
      "ProcessGraph.scala decodes by cast instead of a typed accessor")
  }

  test("the process-graph front end parses each graph once and swallows no error") {
    // one parse of the graph document; callbacks and objects inside the
    // graph stay parsed
    val src = processGraphSource
    assert("JsonMethods\\.parse\\(".r.findAllIn(src).size == 1,
      "ProcessGraph.scala parses JSON text beyond the graph document itself")
    assert("JsonMethods\\.parse".r.findAllIn(src).size == 1,
      "ProcessGraph.scala decodes JSON text beyond the graph document itself")
    assert(!src.contains("case _: Throwable"),
      "ProcessGraph.scala swallows errors in a classifier")
  }

  test("the process-graph front end evaluates the parsed graph, not raw JSON") {
    // no free `nodes(` / `processNodes(` walker over a JSON graph (a parsed
    // graph's `g.nodes(id)` is a map lookup), and no cycle guard: `check`
    // rejects cycles before evaluation
    val src = processGraphSource
    assert("""(?<![\w.])(processN|n)odes\(""".r.findFirstIn(src).isEmpty,
      "ProcessGraph.scala walks a raw JSON graph")
    assert(!src.contains("staticVisiting"),
      "ProcessGraph.scala keeps a cycle guard in the chain planner")
  }
}
