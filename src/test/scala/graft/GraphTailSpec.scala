package graft

import graft.core._
import graft.operators._
import graft.plans.ProcessGraph
import graft.plans.ProcessGraph.{ColV, CubeV, TableV}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph ≡ DataFrame equivalence for the §2-tail registry nodes
  * (fit/predict curve + random forest, cube-to-cube resample, cumulatives,
  * vector processes, loaders, composites): every node here runs once
  * through a process graph and once through its operator twin, and the two
  * results must match row-for-row. Mirrors the reference's stance that the
  * graph is the primary entry point (its README routes everything through
  * the process graph).
  */
class GraphTailSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def runCube(graph: String, colls: Map[String, DataCube]): DataCube =
    ProcessGraph.execute(spark, graph, colls(_))

  private def runValue(graph: String, colls: Map[String, DataCube] = Map.empty)
      : ProcessGraph.PValue =
    ProcessGraph.executeValue(spark, graph, colls(_))

  /** numeric-dim series cube: (d, band) -> value */
  private def seriesCube: DataCube = {
    val df = (for (b <- Seq("B1", "B2"); d <- 0 until 12) yield
      (d.toDouble, b,
        if (b == "B1") 2.0 + 3.0 * d + (d % 3) else 40.0 - d + (d % 4)))
      .toDF("d", "band", "value")
    DataCube.fromTable(df, Seq("d", "band"), "value")
  }

  // ---- fit_curve / predict_curve ----

  test("fit_curve linear ≡ CurveOps.fitLinear (param dim melt)") {
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "f": {"process_id": "fit_curve",
        |        "arguments": {"data": {"from_node": "l"}, "dimension": "d",
        |                      "model": "linear"}, "result": true}}}""".stripMargin
    val out = runCube(g, Map("c" -> seriesCube))
    assert(out.meta.dimNames == Seq("band", "param"))
    val got = out.df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val direct = CurveOps.fitLinear(seriesCube, "d").collect()
      .flatMap(r => Seq((r.getString(0), "a") -> r.getDouble(r.fieldIndex("a")),
        (r.getString(0), "b") -> r.getDouble(r.fieldIndex("b")))).toMap
    assert(got == direct)
  }

  test("predict_curve linear and harmonic ≡ CurveOps predict twins") {
    val gLin =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "f": {"process_id": "fit_curve",
        |        "arguments": {"data": {"from_node": "l"}, "dimension": "d"}},
        |  "p": {"process_id": "predict_curve",
        |        "arguments": {"parameters": {"from_node": "f"},
        |                      "labels": [0.0, 2.5, 7.0], "dimension": "d"},
        |        "result": true}}}""".stripMargin
    val got = rows(runCube(gLin, Map("c" -> seriesCube)).df)
    val direct = CurveOps.predictLinear(
      CurveOps.fitLinear(seriesCube, "d"), Seq("band"),
      Seq(0.0, 2.5, 7.0), "d")
    assert(got == rows(direct))

    val w = 0.5
    val gHar =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "f": {"process_id": "fit_curve",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "d",
         |                      "model": "harmonic", "omega": $w}},
         |  "p": {"process_id": "predict_curve",
         |        "arguments": {"parameters": {"from_node": "f"},
         |                      "labels": [0.0, 3.0], "dimension": "d",
         |                      "model": "harmonic", "omega": $w},
         |        "result": true}}}""".stripMargin
    val gotH = rows(runCube(gHar, Map("c" -> seriesCube)).df)
    val directH = CurveOps.predictBasis2(
      CurveOps.fitHarmonic(seriesCube, "d", w), Seq("band"),
      Seq(0.0, 3.0), x => sin(x * w), x => cos(x * w), "d")
    assert(gotH == rows(directH))
  }

  // ---- random forest ----

  private def rfCubes: (DataCube, DataCube) = {
    val base = (0 until 40).map { i =>
      (i.toLong, (i % 7).toDouble, (i % 5).toDouble) }
      .toDF("i", "f1", "f2")
    val pred = base.select(col("i"),
      explode(map(lit("f1"), col("f1"), lit("f2"), col("f2"))))
      .toDF("i", "bands", "value")
    val tgt = base.select(col("i"),
      (col("f1") * 2 + col("f2")).as("value"))
    (DataCube.fromTable(pred, Seq("i", "bands"), "value"),
      DataCube.fromTable(tgt, Seq("i"), "value"))
  }

  test("fit/predict_random_forest: graph ≡ direct MLOps, deterministic") {
    val (pred, tgt) = rfCubes
    val g =
      """{"process_graph": {
        |  "p": {"process_id": "load_collection", "arguments": {"id": "p"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "t"}},
        |  "m": {"process_id": "fit_regr_random_forest",
        |        "arguments": {"predictors": {"from_node": "p"},
        |                      "target": {"from_node": "t"},
        |                      "num_trees": 10, "max_depth": 4, "seed": 7}},
        |  "s": {"process_id": "predict_random_forest",
        |        "arguments": {"data": {"from_node": "p"},
        |                      "model": {"from_node": "m"}},
        |        "result": true}}}""".stripMargin
    val colls = Map("p" -> pred, "t" -> tgt)
    val got = runCube(g, colls).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the identical pipeline by hand: same pivot, same join, same seed
    val feats = Seq("f1", "f2")
    val wide = pred.df.groupBy(col("i")).pivot("bands", feats)
      .agg(first(col("value")))
    val joined = wide.join(tgt.df.select(col("i"),
      col("value").as("_target")), Seq("i"))
    val model = MLOps.fitRandomForest(joined, feats, "_target",
      numTrees = 10, maxDepth = 4, seed = 7L)
    val direct = MLOps.predictForest(model, wide, feats).collect()
      .map(r => r.getLong(r.fieldIndex("i")) ->
        r.getDouble(r.fieldIndex("prediction"))).toMap
    assert(got == direct)
    // a second graph run reproduces bit-identically (seeded, pinned layout)
    val again = runCube(g, colls).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }

  test("fit_class_random_forest: graph ≡ direct classifier, class output") {
    val (pred, tgt0) = rfCubes
    // integer class target: 3 classes from the regression target's range
    val tgt = tgt0.withDf(_.withColumn("value",
      (col("value") % 3).cast("double")))
    val g =
      """{"process_graph": {
        |  "p": {"process_id": "load_collection", "arguments": {"id": "p"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "t"}},
        |  "m": {"process_id": "fit_class_random_forest",
        |        "arguments": {"predictors": {"from_node": "p"},
        |                      "target": {"from_node": "t"},
        |                      "num_trees": 10, "max_depth": 4, "seed": 7}},
        |  "s": {"process_id": "predict_random_forest",
        |        "arguments": {"data": {"from_node": "p"},
        |                      "model": {"from_node": "m"}},
        |        "result": true}}}""".stripMargin
    val colls = Map("p" -> pred, "t" -> tgt)
    val got = runCube(g, colls).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val feats = Seq("f1", "f2")
    val wide = pred.df.groupBy(col("i")).pivot("bands", feats)
      .agg(first(col("value")))
    val joined = wide.join(tgt.df.select(col("i"),
      col("value").as("_target")), Seq("i"))
    val model = MLOps.fitClassRandomForest(joined, feats, "_target",
      numTrees = 10, maxDepth = 4, seed = 7L)
    val direct = MLOps.predictForest(model, wide, feats).collect()
      .map(r => r.getLong(r.fieldIndex("i")) ->
        r.getDouble(r.fieldIndex("prediction"))).toMap
    assert(got == direct)
    // predictions are class indices
    assert(got.values.toSet.subsetOf(Set(0.0, 1.0, 2.0)), got.values.toSet)
    // classifier persistence: save → load round-trips the kind sidecar
    val dir = java.nio.file.Files.createTempDirectory("graft_rfc").toString
    MLOps.saveModel(model, feats, dir)
    val (reloaded, rfeats) = MLOps.loadModel(dir)
    assert(rfeats == feats)
    val again = MLOps.predictForest(reloaded, wide, feats).collect()
      .map(r => r.getLong(r.fieldIndex("i")) ->
        r.getDouble(r.fieldIndex("prediction"))).toMap
    assert(again == got)
  }

  test("save_ml_model → load_ml_model: persistence is prediction-lossless") {
    val (pred, tgt) = rfCubes
    val dir = java.nio.file.Files.createTempDirectory("graft_gml").toString
    val colls = Map("p" -> pred, "t" -> tgt)
    // graph 1: fit and PERSIST (save_ml_model is the result node — a
    // pass-through, so the returned value is still the model)
    val gSave =
      s"""{"process_graph": {
         |  "p": {"process_id": "load_collection", "arguments": {"id": "p"}},
         |  "t": {"process_id": "load_collection", "arguments": {"id": "t"}},
         |  "m": {"process_id": "fit_regr_random_forest",
         |        "arguments": {"predictors": {"from_node": "p"},
         |                      "target": {"from_node": "t"},
         |                      "num_trees": 10, "max_depth": 4, "seed": 7}},
         |  "s": {"process_id": "save_ml_model",
         |        "arguments": {"model": {"from_node": "m"}, "path": "$dir"},
         |        "result": true}}}""".stripMargin
    ProcessGraph.executeValue(spark, gSave, colls(_)) match {
      case graft.plans.ProcessGraph.ModelV(_, feats) =>
        assert(feats == Seq("f1", "f2"))
      case v => fail(s"save_ml_model did not return the model: $v")
    }
    // graph 2: RELOAD in a fresh graph and predict — must equal the
    // direct fit's predictions exactly
    val gLoad =
      s"""{"process_graph": {
         |  "p": {"process_id": "load_collection", "arguments": {"id": "p"}},
         |  "m": {"process_id": "load_ml_model", "arguments": {"id": "$dir"}},
         |  "s": {"process_id": "predict_random_forest",
         |        "arguments": {"data": {"from_node": "p"},
         |                      "model": {"from_node": "m"}},
         |        "result": true}}}""".stripMargin
    val got = runCube(gLoad, colls).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val feats = Seq("f1", "f2")
    val wide = pred.df.groupBy(col("i")).pivot("bands", feats)
      .agg(first(col("value")))
    val joined = wide.join(tgt.df.select(col("i"),
      col("value").as("_target")), Seq("i"))
    val model = MLOps.fitRandomForest(joined, feats, "_target",
      numTrees = 10, maxDepth = 4, seed = 7L)
    val direct = MLOps.predictForest(model, wide, feats).collect()
      .map(r => r.getLong(r.fieldIndex("i")) ->
        r.getDouble(r.fieldIndex("prediction"))).toMap
    assert(got == direct)
    // a missing path is the wire-level ModelNotFound
    val e = intercept[Exception] {
      ProcessGraph.executeValue(spark,
        """{"process_graph": {"m": {"process_id": "load_ml_model",
          |  "arguments": {"id": "/tmp/graft_no_such_model"},
          |  "result": true}}}""".stripMargin, colls(_))
    }
    assert(e.getMessage.contains("ModelNotFound"), e.getMessage)
  }

  // ---- cube-to-cube resample ----

  private def gridCube(xs: Seq[Double], ys: Seq[Double],
      f: (Double, Double) => Double): DataCube = {
    val df = (for (x <- xs; y <- ys) yield (x, y, f(x, y)))
      .toDF("x", "y", "value")
    DataCube.fromTable(df, Seq("x", "y"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial))
  }

  test("resample_cube_spatial near and bilinear ≡ operator twins") {
    val src = gridCube((0 until 8).map(_.toDouble),
      (0 until 6).map(_.toDouble), (x, y) => x * 10 + y)
    val target = gridCube(Seq(0.5, 2.5, 6.5), Seq(1.25, 3.75), (_, _) => 0.0)
    val gNear =
      """{"process_graph": {
        |  "d": {"process_id": "load_collection", "arguments": {"id": "d"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "t"}},
        |  "r": {"process_id": "resample_cube_spatial",
        |        "arguments": {"data": {"from_node": "d"},
        |                      "target": {"from_node": "t"}},
        |        "result": true}}}""".stripMargin
    val gotNear = rows(runCube(gNear, Map("d" -> src, "t" -> target)).df)
    val directNear = SpatialOps.resampleCubeSpatialNear(src,
      Seq(0.5, 2.5, 6.5), Seq(1.25, 3.75),
      v => graft.functions.Reducers.meanR(v))
    assert(gotNear == rows(directNear.df))
    // a target with known labels runs no job at graph time
    val known = target.copy(labels =
      Map("x" -> target.labelsOf("x"), "y" -> target.labelsOf("y")))
    val (outKnown, jobs) =
      JobCount(runCube(gNear, Map("d" -> src, "t" -> known)))
    assert(jobs == 0)
    assert(rows(outKnown.df) == gotNear)

    val gBil = gNear.replace(""""target": {"from_node": "t"}}""",
      """"target": {"from_node": "t"}, "method": "bilinear"}""")
    val gotBil = rows(runCube(gBil, Map("d" -> src, "t" -> target)).df)
    val directBil = ResampleOps.resampleCubeSpatialBilinear(src, target)
    assert(gotBil == rows(directBil.df))
  }

  test("resample_cube_temporal (incl. valid_within) ≡ operator twin") {
    def tc(times: Seq[String]): DataCube = {
      val df = (for (t <- times; b <- Seq("B1", "B2")) yield
        (java.sql.Timestamp.valueOf(t), b, t.hashCode % 100 + (if (b == "B1") 0.0 else 1000.0)))
        .toDF("t", "band", "value")
      DataCube.fromTable(df, Seq("t", "band"), "value")
    }
    val src = tc(Seq("2024-01-01 00:00:00", "2024-01-04 00:00:00",
      "2024-01-09 00:00:00", "2024-01-20 00:00:00"))
    val tgt = tc(Seq("2024-01-02 00:00:00", "2024-01-10 00:00:00",
      "2024-02-05 00:00:00"))
    val g =
      """{"process_graph": {
        |  "d": {"process_id": "load_collection", "arguments": {"id": "d"}},
        |  "t": {"process_id": "load_collection", "arguments": {"id": "t"}},
        |  "r": {"process_id": "resample_cube_temporal",
        |        "arguments": {"data": {"from_node": "d"},
        |                      "target": {"from_node": "t"},
        |                      "valid_within": 3.0},
        |        "result": true}}}""".stripMargin
    val got = rows(runCube(g, Map("d" -> src, "t" -> tgt)).df)
    val targets = tgt.df.select(col("t")).distinct().collect()
      .map(_.getTimestamp(0)).sortBy(_.getTime).toSeq
    val direct = ResampleOps.resampleCubeTemporal(src, targets,
      validWithinDays = Some(3.0))
    assert(got == rows(direct.df))
  }

  // ---- cumulatives + interpolation ----

  test("cumsum/cummin/cummax/cumproduct/array_interpolate_linear ≡ WindowOps") {
    val masked = seriesCube.withDf(_.withColumn("value",
      when(col("d") === 5.0, lit(null)).otherwise(col("value"))))
    def g(pid: String) =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "n": {"process_id": "$pid",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "d"},
         |        "result": true}}}""".stripMargin
    val twins: Seq[(String, DataCube => DataCube)] = Seq(
      "cumsum" -> (c => WindowOps.cumsum(c, "d")),
      "cummin" -> (c => WindowOps.cummin(c, "d")),
      "cummax" -> (c => WindowOps.cummax(c, "d")),
      "cumproduct" -> (c => WindowOps.cumprodExact(c, "d")),
      "array_interpolate_linear" -> (c => WindowOps.interpolateLinear(c, "d")))
    for ((pid, direct) <- twins) {
      assert(rows(runCube(g(pid), Map("c" -> masked)).df) ==
        rows(direct(masked).df), pid)
    }
  }

  // ---- labeled-array scalars ----

  test("array_create_labeled / array_find_label evaluate as scalar nodes") {
    val g1 =
      """{"process_graph": {
        |  "n": {"process_id": "array_create_labeled",
        |        "arguments": {"data": [10.0, 20.0, 30.0],
        |                      "labels": ["a", "b", "c"]},
        |        "result": true}}}""".stripMargin
    val c1 = runValue(g1) match {
      case ProcessGraph.LabeledV(c) => c // labeled arrays are their own PValue
      case v => fail(s"expected LabeledV, got $v")
    }
    val made = spark.range(1).select(c1.as("out")).first().getAs[Any]("out")
    val direct = spark.range(1).select(
      graft.functions.ArrayFns.arrayCreateLabeled(
        array(lit(10.0), lit(20.0), lit(30.0)),
        array(lit("a"), lit("b"), lit("c"))).as("out"))
      .first().getAs[Any]("out")
    assert(made == direct)

    val g2 =
      """{"process_graph": {
        |  "n": {"process_id": "array_find_label",
        |        "arguments": {"data": ["x", "y", "z"], "label": "y"},
        |        "result": true}}}""".stripMargin
    val c2 = runValue(g2) match {
      case ColV(c) => c
      case v => fail(s"expected ColV, got $v")
    }
    val idx = spark.range(1).select(c2.cast("long").as("i")).first().getLong(0)
    assert(idx == 1L)
  }

  // ---- dimension metadata / constructors ----

  test("dimension_labels ≡ CubeDimOps.dimensionLabels; create_data_cube empty") {
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "dimension_labels",
        |        "arguments": {"data": {"from_node": "l"}, "dimension": "band"},
        |        "result": true}}}""".stripMargin
    val got = runValue(g, Map("c" -> seriesCube)) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    assert(got == rows(CubeDimOps.dimensionLabels(seriesCube, "band")))

    val gEmpty =
      """{"process_graph": {
        |  "n": {"process_id": "create_data_cube", "arguments": {},
        |        "result": true}}}""".stripMargin
    val empty = runValue(gEmpty) match {
      case CubeV(c) => c
      case v => fail(s"expected CubeV, got $v")
    }
    assert(empty.meta.dimNames.isEmpty && empty.df.isEmpty)
  }

  // ---- composites ----

  test("ddmc ≡ CompositeOps.bandDifferenceComposite") {
    val df = (for (t <- 0 until 6;
                   b <- Seq("purchase", "click", "signup", "error")) yield
      (t.toDouble, b, (t + 1.0) * (b.length + 1))).toDF("t", "band", "value")
    val c = DataCube.fromTable(df, Seq("t", "band"), "value",
      Map("band" -> DimType.Bands))
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "ddmc",
        |        "arguments": {"data": {"from_node": "l"}, "dimension": "band",
        |          "pairs": {"d1": ["purchase", "click"],
        |                    "d2": ["signup", "error"]}},
        |        "result": true}}}""".stripMargin
    val got = rows(runCube(g, Map("c" -> c)).df)
    val direct = CompositeOps.bandDifferenceComposite(c, "band",
      Seq("d1" -> ("purchase", "click"), "d2" -> ("signup", "error")))
    assert(got == rows(direct.df))
  }

  test("rqadeforestation ≡ WindowOps.recurrenceRate") {
    val c = seriesCube
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "rqadeforestation",
        |        "arguments": {"data": {"from_node": "l"}, "dimension": "d",
        |                      "eps": 5.0, "max_lag": 4},
        |        "result": true}}}""".stripMargin
    val got = runValue(g, Map("c" -> c)) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    assert(got == rows(WindowOps.recurrenceRate(c, "d", 5.0, 4)))
  }

  // ---- vector processes + loaders ----

  private val geojson =
    """{"type": "FeatureCollection", "features": [
      |  {"type": "Feature", "properties": {"class": "pt"},
      |   "geometry": {"type": "Point", "coordinates": [2.0, 1.0]}},
      |  {"type": "Feature", "properties": {"class": "pt"},
      |   "geometry": {"type": "Point", "coordinates": [8.0, -2.0]}},
      |  {"type": "Feature", "properties": {"class": "poly"},
      |   "geometry": {"type": "Polygon", "coordinates":
      |     [[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [0.0, 0.0]]]}}
      |]}""".stripMargin

  test("load_uploaded_files unions the path list through the format loader") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upl")
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    a.coalesce(1).write.mode("overwrite").parquet(s"$dir/a")
    b.coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    def onePart(d: String): String =
      new java.io.File(d).listFiles()
        .find(_.getName.endsWith(".parquet")).get.getPath
    val g =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_uploaded_files",
         |        "arguments": {"paths": ["${onePart(s"$dir/a")}",
         |                                "${onePart(s"$dir/b")}"],
         |                      "format": "Parquet"},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      case v => fail(s"expected TableV, got $v")
    }
    assert(got == Set((1L, "x"), (2L, "y"), (3L, "z")))
    // unknown format is the wire-level FormatUnsuitable
    val bad = g.replace("\"Parquet\"", "\"Shapefile\"")
    val e = intercept[Exception] { runValue(bad) }
    assert(e.getMessage.contains("FormatUnsuitable"), e.getMessage)
  }

  test("vector_to_regular_points node ≡ VectorOps twin; spacing honored") {
    val arg = geojson.replaceAll("\\s+", " ")
    val g =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_geojson",
         |        "arguments": {"data": $arg, "properties": ["class"]}},
         |  "p": {"process_id": "vector_to_regular_points",
         |        "arguments": {"data": {"from_node": "l"},
         |                      "distance": 1.0},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    val vc = VectorOps.loadGeoJson(spark, geojson, Seq("class"))
    val direct = VectorOps.vectorToRegularPoints(vc, "geometry", 1.0)
    assert(got == rows(direct))
    // the 4×3 polygon at spacing 1.0: grid 5×4, edge rows/cols at x=4 /
    // y=3 fall OUT by the ray-cast (right/top edges are exterior), x=0 /
    // y=0 fall IN — 4×3=12 interior points + the 2 point features
    val polyPts = direct.filter(col("geom_id") === 2)
      .select(element_at(col("geometry"), 1).getField("x"),
        element_at(col("geometry"), 1).getField("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(polyPts == (for (x <- 0 to 3; y <- 0 to 2)
      yield (x.toDouble, y.toDouble)).toSet, polyPts)
    assert(direct.filter(col("geom_type") =!= "Point").count() == 0)
  }

  test("vector_to_random_points node ≡ VectorOps twin; all points interior") {
    val arg = geojson.replaceAll("\\s+", " ")
    val g =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_geojson",
         |        "arguments": {"data": $arg, "properties": ["class"]}},
         |  "p": {"process_id": "vector_to_random_points",
         |        "arguments": {"data": {"from_node": "l"},
         |                      "geometry_count": 5, "seed": "gts"},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    val vc = VectorOps.loadGeoJson(spark, geojson, Seq("class"))
    val direct = VectorOps.vectorToRandomPoints(vc, "geometry", 5, seed = "gts")
    assert(got == rows(direct))
    // deterministic: a re-plan over a repartitioned input is bit-identical
    assert(rows(VectorOps.vectorToRandomPoints(vc.repartition(7), "geometry",
      5, seed = "gts")) == rows(direct))
    // exactly 5 per polygon here (the 4×3 rect IS its bbox — no rejection),
    // every one strictly interior to the rect by construction of the hash
    // scaling, ids 0..4 in candidate order
    val polyPts = direct.filter(col("geom_id") === 2)
      .select(col("point_id"),
        element_at(col("geometry"), 1).getField("x"),
        element_at(col("geometry"), 1).getField("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(polyPts.map(_._1).sorted.toSeq == (0L to 4L))
    polyPts.foreach { case (_, x, y) =>
      assert(x >= 0.0 && x < 4.0 && y >= 0.0 && y < 3.0, s"($x, $y)")
    }
    // point features pass through untouched
    assert(rows(direct.filter(col("geom_type") === "Point")
      .filter(col("geom_id") < 2)) ==
      rows(vc.filter(col("geom_type") === "Point")
        .withColumn("point_id", lit(0L))
        .select(direct.columns.map(col).toSeq: _*)))
  }

  test("load_geojson → vector_buffer → vector_reproject ≡ VectorOps chain") {
    val arg = geojson.replaceAll("\\s+", " ")
    val g =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_geojson",
         |        "arguments": {"data": $arg, "properties": ["class"]}},
         |  "b": {"process_id": "vector_buffer",
         |        "arguments": {"geometries": {"from_node": "l"},
         |                      "distance": 1.5}},
         |  "r": {"process_id": "vector_reproject",
         |        "arguments": {"data": {"from_node": "b"},
         |                      "source": "EPSG:4326",
         |                      "projection": "EPSG:3857"},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    val vc = VectorOps.loadGeoJson(spark, geojson, Seq("class"))
    val buffered = VectorOps.bufferPoints(
      vc.filter(col("geom_type") === "Point"), "geometry", 1.5)
      .unionByName(vc.filter(col("geom_type") =!= "Point"))
    val direct = VectorOps.reprojectVector(buffered, "geometry",
      "EPSG:4326", "EPSG:3857")
    assert(got == rows(direct))
  }

  test("load_vector_cube (inline geometries) ≡ VectorOps.loadVectorCube") {
    val arg = geojson.replaceAll("\\s+", " ")
    val g =
      s"""{"process_graph": {
         |  "n": {"process_id": "load_vector_cube",
         |        "arguments": {"geometries": $arg, "properties": ["class"]},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    assert(got == rows(VectorOps.loadVectorCube(spark,
      geometries = Some(geojson), properties = Seq("class"))) && got.nonEmpty)
  }

  test("load_collection composes temporal/spatial/bands extents (openEO shape)") {
    val df = (for (x <- 0 until 8; y <- 0 until 6;
                   b <- Seq("B1", "B2"); day <- Seq(2, 12, 22)) yield
      (x.toDouble, y.toDouble, b,
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"),
        x * 100.0 + y + day)).toDF("x", "y", "bands", "t", "value")
    val c = DataCube.fromTable(df, Seq("x", "y", "bands", "t"), "value",
      Map("x" -> DimType.Spatial, "y" -> DimType.Spatial,
        "bands" -> DimType.Bands, "t" -> DimType.Temporal))
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection",
        |        "arguments": {"id": "c",
        |          "spatial_extent": {"west": 2.0, "east": 5.0,
        |                             "south": 1.0, "north": 4.0},
        |          "temporal_extent": ["2024-01-10", "2024-01-20"],
        |          "bands": ["B2"]},
        |        "result": true}}}""".stripMargin
    val got = rows(runCube(g, Map("c" -> c)).df)
    val direct = FilterOps.filterBands(
      FilterOps.filterBbox(
        FilterOps.filterTemporal(c, "2024-01-10", "2024-01-20", None),
        2.0, 5.0, 1.0, 4.0), Seq("B2"))
    assert(got == rows(direct.df) && got.nonEmpty)
  }

  test("load_stac accepts openEO comparison-callback property filters") {
    val fix = graft.queries.StacFixture.ensure()
    // the WIRE form real graphs carry: lt callback over from_parameter
    val gCallback =
      s"""{"process_graph": {
         |  "n": {"process_id": "load_stac",
         |        "arguments": {"url": "file://$fix/catalog.json",
         |          "bands": ["b01", "b02"],
         |          "temporal_extent": ["2024-01-01T00:00:00Z",
         |                              "2024-01-10T00:00:00Z"],
         |          "properties": {"eo:cloud_cover": {"process_graph": {
         |            "cc": {"process_id": "lt",
         |                   "arguments": {"x": {"from_parameter": "value"},
         |                                 "y": 50},
         |                   "result": true}}}}},
         |        "result": true}}}""".stripMargin
    val gFlat = gCallback.replace(
      """{"process_graph": {
         |            "cc": {"process_id": "lt",
         |                   "arguments": {"x": {"from_parameter": "value"},
         |                                 "y": 50},
         |                   "result": true}}}""".stripMargin,
      """[["lt", "50"]]""")
    val a = rows(runCube(gCallback, Map.empty).df)
    val b = rows(runCube(gFlat, Map.empty).df)
    assert(a == b && a.nonEmpty)
    // flipped form: 50 gt value ≡ value lt 50
    val gFlipped = gCallback
      .replace(""""x": {"from_parameter": "value"},
         |                                 "y": 50""".stripMargin,
        """"y": {"from_parameter": "value"},
         |                                 "x": 50""".stripMargin)
      .replace(""""process_id": "lt"""", """"process_id": "gt"""")
    assert(rows(runCube(gFlipped, Map.empty).df) == a)
  }

  test("pq_topk node ≡ Similarity PQ-refine twin") {
    import graft.pipeline.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val coll: Map[String, DataCube] = Map(
      "emb" -> DataCube.fromTable(emb, Seq("vec_id"), "embedding"),
      "q" -> DataCube.fromTable(emb.filter(col("vec_id") % 50 === 0),
        Seq("vec_id"), "embedding"))
    val g =
      """{"process_graph": {
        |  "q": {"process_id": "load_collection", "arguments": {"id": "q"}},
        |  "c": {"process_id": "load_collection", "arguments": {"id": "emb"}},
        |  "a": {"process_id": "pq_topk",
        |        "arguments": {"queries": {"from_node": "q"},
        |                      "corpus": {"from_node": "c"},
        |                      "k": 3, "dims": 64, "m": 16,
        |                      "centroids": 32, "shortlist": 25},
        |        "result": true}
        |}}""".stripMargin
    val got = runCube(g, coll).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    val book = Similarity.pqCodebook(emb, "vec_id", "embedding", 64, 16, 32)
    val want = Similarity.pqTopKRefined(
        emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding",
        book, k = 3, shortlist = 25)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty && got == want)
  }

  test("load_stac node ≡ StacLoader pipeline (bands + time + property pruning)") {
    val fix = graft.queries.StacFixture.ensure()
    val g =
      s"""{"process_graph": {
         |  "n": {"process_id": "load_stac",
         |        "arguments": {"url": "file://$fix/catalog.json",
         |          "bands": ["b01", "b02"],
         |          "temporal_extent": ["2024-01-01T00:00:00Z",
         |                              "2024-01-10T00:00:00Z"],
         |          "properties": {"eo:cloud_cover": [["lt", "50"]]}},
         |        "result": true}}}""".stripMargin
    val got = rows(runCube(g, Map.empty).df)
    val assets = graft.sources.StacLoader.loadCatalogItems(
      s"file://$fix/catalog.json")
    val sel = graft.sources.StacLoader.filterAssets(assets,
      bands = Some(Seq("b01", "b02")),
      timeRange = Some(("2024-01-01T00:00:00Z", "2024-01-10T00:00:00Z")),
      properties = Map("eo:cloud_cover" -> Seq(("lt", "50"))))
    val direct = graft.sources.StacLoader.loadCube(spark, sel)
    assert(got == rows(direct.df) && got.nonEmpty)
  }

  test("load_result reloads a save_result parquet sink as the SAME cube") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_load_result").toString
    val path = s"$dir/res"
    val cube = seriesCube.copy(meta = seriesCube.meta.copy(
      crs = Some("EPSG:4326")))
    // save through the GRAPH (save_result with options.path), reload
    // through the GRAPH (load_result) in a fresh execution
    val saveG =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "s": {"process_id": "save_result",
         |        "arguments": {"data": {"from_node": "l"},
         |                      "format": "parquet",
         |                      "options": {"path": "$path"}},
         |        "result": true}
         |}}""".stripMargin
    runCube(saveG, Map("c" -> cube))
    val loadG =
      s"""{"process_graph": {
         |  "r": {"process_id": "load_result", "arguments": {"id": "$path"},
         |        "result": true}
         |}}""".stripMargin
    val back = runCube(loadG, Map.empty)
    assert(back.meta.dimNames == cube.meta.dimNames)
    assert(back.meta.dims.map(_.dimType) == cube.meta.dims.map(_.dimType))
    assert(back.meta.crs == cube.meta.crs)
    assert(back.meta.valueCol == cube.meta.valueCol)
    assert(rows(back.df) == rows(cube.df))
  }

  test("load_result: missing store or sidecar is a wire-level ResultNotFound") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_load_result_miss").toString
    val g =
      s"""{"process_graph": {
         |  "r": {"process_id": "load_result",
         |        "arguments": {"id": "$dir/nothing_here"},
         |        "result": true}
         |}}""".stripMargin
    val e = intercept[Exception] { runCube(g, Map.empty) }
    assert(e.getMessage.contains("ResultNotFound"))
    // a bare parquet table WITHOUT the cube sidecar must also refuse
    val bare = s"$dir/bare"
    seriesCube.df.write.parquet(bare)
    val g2 =
      s"""{"process_graph": {
         |  "r": {"process_id": "load_result", "arguments": {"id": "$bare"},
         |        "result": true}
         |}}""".stripMargin
    val e2 = intercept[Exception] { runCube(g2, Map.empty) }
    assert(e2.getMessage.contains("ResultNotFound"))
  }

  test("climatological_normal + anomaly graph nodes == operator twins") {
    val df = Seq(
      ("2023-01-05 00:00:00", "B1", 10.0), ("2024-01-15 00:00:00", "B1", 20.0),
      ("2023-07-01 00:00:00", "B1", 40.0), ("2024-07-09 00:00:00", "B1", 44.0),
      ("2023-01-20 00:00:00", "B2", 6.0), ("2024-02-02 00:00:00", "B2", 8.0)
    ).toDF("ts", "band", "value")
      .select(col("ts").cast("timestamp").as("t"), col("band"), col("value"))
    val cube = DataCube.fromTable(df, Seq("t", "band"), "value")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "climatological_normal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "frequency": "month"},
        |        "result": true}
        |}}""".stripMargin
    val got = runCube(g, Map("c" -> cube))
    val want = AggregateOps.climatologicalNormal(cube, "month")
    assert(rows(got.df) == rows(want.df) && rows(got.df).nonEmpty)
    // January collapses ACROSS years: (10 + 20) / 2
    val jan = got.df.filter(col("t") === 1L && col("band") === "B1")
      .select(col("value")).as[Double].head()
    assert(jan == 15.0)

    val ga =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "climatological_normal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "frequency": "month"}},
        |  "a": {"process_id": "anomaly",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "normals": {"from_node": "n"},
        |                      "frequency": "month"},
        |        "result": true}
        |}}""".stripMargin
    val gotA = runCube(ga, Map("c" -> cube))
    val wantA = AggregateOps.anomaly(cube, want, "month")
    assert(rows(gotA.df) == rows(wantA.df))
    // the two January-B1 cells deviate symmetrically from their normal
    val janA = gotA.df.filter(month(col("t")) === 1 && col("band") === "B1")
      .select(col("value")).as[Double].collect().sorted.toSeq
    assert(janA == Seq(-5.0, 5.0))
    // anomalies of the normal's own inputs sum to zero per key
    val sums = gotA.df.groupBy(month(col("t")), col("band"))
      .agg(sum(col("value")).as("s")).select(col("s")).as[Double].collect()
    assert(sums.forall(_ == 0.0))
  }

  test("climatological_normal: climatology_period bounds the defining years") {
    val df = Seq(
      ("2020-03-01 00:00:00", "B1", 100.0), // outside the period: excluded
      ("2023-03-01 00:00:00", "B1", 10.0),
      ("2024-03-01 00:00:00", "B1", 20.0)
    ).toDF("ts", "band", "value")
      .select(col("ts").cast("timestamp").as("t"), col("band"), col("value"))
    val cube = DataCube.fromTable(df, Seq("t", "band"), "value")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "climatological_normal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "frequency": "month",
        |                      "climatology_period": ["2023-01-01", "2025-01-01"]},
        |        "result": true}
        |}}""".stripMargin
    val got = runCube(g, Map("c" -> cube)).df
      .select(col("value")).as[Double].collect().toSeq
    assert(got == Seq(15.0))
  }

  test("anomaly: keys outside the climatology period survive with null") {
    // normals bounded to 2023 only — the 2024-07 fact row's month is
    // absent from them; an inner join would silently drop it, the
    // contract is null anomaly (openEO no-data)
    val df = Seq(
      ("2023-01-05 00:00:00", "B1", 10.0),
      ("2024-07-09 00:00:00", "B1", 44.0)
    ).toDF("ts", "band", "value")
      .select(col("ts").cast("timestamp").as("t"), col("band"), col("value"))
    val cube = DataCube.fromTable(df, Seq("t", "band"), "value")
    val normals = AggregateOps.climatologicalNormal(cube, "month",
      climatologyPeriod = Some(("2023-01-01", "2024-01-01")))
    val out = AggregateOps.anomaly(cube, normals, "month").df
    assert(out.count() == 2) // no row dropped
    val july = out.filter(month(col("t")) === 7)
      .select(col("value")).collect()
    assert(july.length == 1 && july.head.isNullAt(0))
    val jan = out.filter(month(col("t")) === 1)
      .select(col("value")).as[Double].head()
    assert(jan == 0.0) // its own normal
  }

  test("climatology wire errors: bad frequency, normals lacking the dim") {
    val df = Seq(("2024-01-01 00:00:00", "B1", 1.0))
      .toDF("ts", "band", "value")
      .select(col("ts").cast("timestamp").as("t"), col("band"), col("value"))
    val cube = DataCube.fromTable(df, Seq("t", "band"), "value")
    val bad =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "climatological_normal",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "frequency": "fortnight"},
        |        "result": true}
        |}}""".stripMargin
    val e = intercept[Exception] { runCube(bad, Map("c" -> cube)) }
    assert(e.getMessage.contains("unknown frequency"))
    // anomaly against normals that lack the temporal dim must refuse
    val noDim = DataCube.fromTable(
      Seq(("B1", 1.0)).toDF("band", "value"), Seq("band"), "value")
    val e2 = intercept[Exception] {
      AggregateOps.anomaly(cube, noDim, "month")
    }
    assert(e2.getMessage.contains("normals lack dimension"))
    // normals with an EXTRA dim would collapse several normal rows onto
    // one join key and duplicate fact rows — must refuse, not duplicate
    val extraDim = DataCube.fromTable(
      Seq((1L, "B1", "r1", 1.0), (1L, "B1", "r2", 2.0))
        .toDF("t", "band", "region", "value"),
      Seq("t", "band", "region"), "value")
    val e3 = intercept[Exception] {
      AggregateOps.anomaly(cube, extraDim, "month")
    }
    assert(e3.getMessage.contains("absent"))
  }

  test("filter_vector graph node == VectorOps.filterVector twin") {
    val arg = geojson.replaceAll("\\s+", " ")
    val g =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_geojson",
         |        "arguments": {"data": $arg, "properties": ["class"]}},
         |  "f": {"process_id": "filter_vector",
         |        "arguments": {"data": {"from_node": "l"},
         |          "geometries": {"type": "Polygon", "coordinates":
         |            [[[3.0,2.0],[6.0,4.0],[3.0,6.0],[0.0,4.0],[3.0,2.0]]]}},
         |        "result": true}}}""".stripMargin
    val got = runValue(g) match {
      case TableV(df) => rows(df)
      case v => fail(s"expected TableV, got $v")
    }
    val vc = VectorOps.loadGeoJson(spark, geojson, Seq("class"))
    val want = VectorOps.filterVector(vc, "geometry",
      Seq((3.0, 2.0), (6.0, 4.0), (3.0, 6.0), (0.0, 4.0), (3.0, 2.0)))
    assert(got == rows(want) && got.nonEmpty)
  }
}
