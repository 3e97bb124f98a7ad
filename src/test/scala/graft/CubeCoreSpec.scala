package graft

import graft.core._
import graft.functions.{Reducers, Scalar}
import graft.operators._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests on tiny synthetic cubes, mirroring the reference's unit
  * suites (reference: tests/test_merge.py, test_reduce.py, test_logic.py).
  */
class CubeCoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  def cube(rows: Seq[(Double, String, java.lang.Double)]): DataCube = {
    val df = rows.toDF("x", "band", "value")
    DataCube.fromTable(df, Seq("x", "band"), "value")
  }

  test("reduce_dimension mean ignores nulls (ignore_nodata default)") {
    val c = cube(Seq((1.0, "B1", 2.0), (2.0, "B1", 4.0), (3.0, "B1", null),
      (1.0, "B2", 10.0)))
    val r = ReduceOps.reduceDimension(c, "x", v => Reducers.meanR(v))
    val m = r.df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("B1") == 3.0 && m("B2") == 10.0)
  }

  test("reduce_dimension strict mean nulls group containing nodata") {
    val c = cube(Seq((1.0, "B1", 2.0), (2.0, "B1", null), (1.0, "B2", 5.0)))
    val r = ReduceOps.reduceDimension(c, "x",
      v => Reducers.meanR(v, ignoreNodata = false))
    val rows = r.df.collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(rows("B1").isEmpty && rows("B2").contains(5.0))
  }

  test("merge_cubes same dims: resolver on overlap, coalesce elsewhere") {
    val c1 = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0)))
    val c2 = cube(Seq((2.0, "B1", 5.0), (3.0, "B1", 7.0)))
    val m = MergeOps.mergeCubes(c1, c2, Some(_ + _))
    val got = m.df.collect()
      .map(r => (r.getDouble(0), r.getDouble(2))).toMap
    assert(got == Map(1.0 -> 10.0, 2.0 -> 25.0, 3.0 -> 7.0))
  }

  test("merge_cubes without resolver fails on overlap, works when disjoint") {
    val c1 = cube(Seq((1.0, "B1", 10.0)))
    val c2 = cube(Seq((2.0, "B1", 5.0)))
    val ok = MergeOps.mergeCubes(c1, c2, None)
    assert(ok.df.count() == 2)
    // PARTIAL overlap (label sets differ, x=1 in both): resolver required.
    // (Identical label sets without resolver stack instead — reference case 3.1.)
    val c3 = cube(Seq((1.0, "B1", 9.0), (3.0, "B1", 4.0)))
    val bad = MergeOps.mergeCubes(c1, c3, None)
    intercept[Exception] { bad.df.collect() }
  }

  test("merge_cubes broadcast case: mask-like lower-dim cube") {
    val c1 = cube(Seq((1.0, "B1", 10.0), (1.0, "B2", 20.0), (2.0, "B1", 30.0)))
    val perX = DataCube(
      Seq((1.0, 100.0)).toDF("x", "value"),
      CubeMetadata(Seq(CubeDim("x", DimType.Spatial))))
    val m = MergeOps.mergeCubes(c1, perX, Some(_ + _))
    val got = m.df.collect()
      .map(r => (r.getDouble(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1.0, "B1") -> 110.0, (1.0, "B2") -> 120.0, (2.0, "B1") -> 30.0))
  }

  test("mergeCubes with materialised labels launches zero jobs at plan time") {
    def labelled(c: DataCube) =
      c.copy(labels = Map("x" -> Seq("1.0", "2.0"), "band" -> Seq("B1")))
    val c1 = labelled(cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0))))
    val c2 = labelled(cube(Seq((1.0, "B1", 1.0), (2.0, "B1", 2.0))))
    // Identical labels + no resolver = the stack path, which used to fire
    // eager anti-join jobs during case dispatch. With known labels the
    // dispatch reads them: building the plan runs NOTHING.
    val (merged, planJobs) = JobCount(MergeOps.mergeCubes(c1, c2, None))
    assert(planJobs == 0, "mergeCubes planning must not launch Spark jobs")
    assert(merged.labels("cubes") == Seq("cube1", "cube2"))
    val (n, runJobs) = JobCount(merged.df.count()) // the stacked cube, now run
    assert(n == 4)
    assert(runJobs > 0) // sanity: the count does see real jobs
  }

  test("label-set dispatch falls back to ONE combined job when labels absent") {
    val c1 = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0)))
    val c2 = cube(Seq((1.0, "B1", 1.0), (2.0, "B1", 2.0)))
    val (merged, jobs) = JobCount(MergeOps.mergeCubes(c1, c2, None))
    // ONE combined action; AQE materialises its shuffle stages as up to 3
    // jobs. The old dispatch ran 2 anti-join actions PER dim (4 actions /
    // ~8+ jobs on this 2-dim cube).
    assert(jobs <= 3, s"expected one combined dispatch action, got $jobs jobs")
    assert(merged.df.count() == 4)
  }

  test("mask replaces truthy cells and broadcasts over missing dims") {
    val data = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0), (1.0, "B2", 30.0)))
    val m = DataCube(
      Seq((1.0, true), (2.0, false)).toDF("x", "value"),
      CubeMetadata(Seq(CubeDim("x", DimType.Spatial))))
    val out = MergeOps.mask(data, m, lit(-1.0))
    val got = out.df.collect()
      .map(r => (r.getDouble(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1.0, "B1") -> -1.0, (2.0, "B1") -> 20.0, (1.0, "B2") -> -1.0))
  }

  test("scalar comparison null propagation matches reference NaN semantics") {
    val df = Seq[(java.lang.Double, java.lang.Double)]((1.0, 2.0), (null, 2.0))
      .toDF("a", "b")
    val out = df.select(
      Scalar.eq(col("a"), col("b")).as("eq"),
      Scalar.lt(col("a"), col("b")).as("lt"),
      Scalar.between(col("a"), lit(0), lit(3)).as("btw")).collect()
    assert(out(0).getBoolean(0) == false && out(0).getBoolean(1) == true)
    assert(out(1).isNullAt(0) && out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("three-valued xor and if (reference logic.py semantics)") {
    val df = Seq[(java.lang.Boolean, java.lang.Boolean)](
      (true, false), (true, true), (null, true), (null, false))
      .toDF("p", "q")
    val out = df.select(Scalar.xor(col("p"), col("q"))).collect()
    assert(out(0).getBoolean(0) == true)
    assert(out(1).getBoolean(0) == false)
    assert(out(2).isNullAt(0)) // null xor true → null (logic.py:35-41)
    assert(out(3).isNullAt(0))
  }

  test("aggregate_temporal preserves empty bins as null rows") {
    val df = Seq(("2024-01-02 00:00:00", "B1", 1.0), ("2024-01-09 00:00:00", "B1", 2.0))
      .toDF("t", "band", "value")
      .withColumn("t", to_timestamp(col("t")))
    val c = DataCube.fromTable(df, Seq("t", "band"), "value")
    val out = AggregateOps.aggregateTemporal(c, Seq(
      AggregateOps.Interval("2024-01-01", "2024-01-08", "a"),
      AggregateOps.Interval("2024-01-08", "2024-01-15", "b"),
      AggregateOps.Interval("2024-02-01", "2024-02-08", "gap")),
      v => Reducers.sumR(v))
    val got = out.df.collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(got("a").contains(1.0) && got("b").contains(2.0) && got("gap").isEmpty)
  }

  test("alignCoordinates snaps float coords within tolerance (merge.py:24-51)") {
    val c1 = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0)))
    val c2 = cube(Seq((1.0000004, "B1", 1.0), (2.5, "B1", 2.0)))
    val aligned = MergeOps.alignCoordinates(c1, c2, Seq("x"))
    val xs = aligned.df.select("x").collect().map(_.getDouble(0)).toSet
    assert(xs == Set(1.0, 2.5)) // 1.0000004 snapped, 2.5 out of tolerance
    val merged = MergeOps.mergeCubes(c1, aligned, Some(_ + _))
    val got = merged.df.collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    assert(got == Map(1.0 -> 11.0, 2.0 -> 20.0, 2.5 -> 2.0))
  }

  test("apply_neighborhood rolling mean over a series") {
    val df = Seq((1L, "B1", 2.0), (2L, "B1", 4.0), (3L, "B1", 6.0))
      .toDF("i", "band", "value")
    val c = DataCube.fromTable(df, Seq("i", "band"), "value",
      Map("i" -> DimType.Other))
    val out = WindowOps.applyNeighborhood(c, "i", 1, 0, v => avg(v))
      .df.orderBy("i").collect().map(_.getDouble(2)).toSeq
    assert(out == Seq(2.0, 3.0, 5.0))
  }

  test("dekad and season period binning") {
    val df = Seq(("2024-01-05 00:00:00", "B1", 1.0), ("2024-01-15 00:00:00", "B1", 2.0),
      ("2024-01-25 00:00:00", "B1", 3.0), ("2024-02-10 00:00:00", "B1", 4.0),
      ("2023-12-15 00:00:00", "B1", 5.0))
      .toDF("t", "band", "value").withColumn("t", to_timestamp(col("t")))
    val c = DataCube.fromTable(df, Seq("t", "band"), "value")
    val dekads = AggregateOps.aggregateTemporalPeriod(c, "dekad", Reducers.sumR(_))
      .df.collect().map(r => r.getTimestamp(0).toString.take(10) -> r.getDouble(2)).toMap
    assert(dekads == Map("2024-01-01" -> 1.0, "2024-01-11" -> 2.0,
      "2024-01-21" -> 3.0, "2024-02-01" -> 4.0, "2023-12-11" -> 5.0))
    val seasons = AggregateOps.aggregateTemporalPeriod(c, "season", Reducers.sumR(_))
      .df.collect().map(r => r.getTimestamp(0).toString.take(10) -> r.getDouble(2)).toMap
    // Dec 2023 + Jan/Feb 2024 all belong to DJF starting 2023-12-01
    assert(seasons == Map("2023-12-01" -> 15.0))
  }

  test("apply_dimension target rules: new target renames and relabels 0..n-1") {
    val c = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0), (3.0, "B1", 30.0)))
    val out = ApplyOps.applyDimensionTarget(c, "x",
      arr => slice(arr, 1, 2), targetDimension = Some("idx"))
    assert(out.meta.dimNames == Seq("band", "idx"))
    val rows = out.df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("B1", 0L, 10.0), ("B1", 1L, 20.0)))
  }

  test("apply_dimension target rules: size-1 existing target is squeezed") {
    val df = Seq((1.0, "B1", "m1", 1.0), (2.0, "B1", "m1", 2.0))
      .toDF("x", "band", "model", "value")
    val c = DataCube.fromTable(df, Seq("x", "band", "model"), "value")
    val out = ApplyOps.applyDimensionTarget(c, "x",
      arr => reverse(arr), targetDimension = Some("model"))
    assert(out.meta.dimNames == Seq("band", "model"))
    val rows = out.df.collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((0L, 2.0), (1L, 1.0)))
  }

  test("apply_dimension target rules: multi-label existing target errors") {
    val c = cube(Seq((1.0, "B1", 1.0), (1.0, "B2", 2.0), (2.0, "B1", 3.0),
      (2.0, "B2", 4.0)))
    val e = intercept[IllegalArgumentException] {
      ApplyOps.applyDimensionTarget(c, "x", arr => arr,
        targetDimension = Some("band"))
    }
    assert(e.getMessage.contains("band"))
  }

  test("apply_dimension same-dim length-changing callback relabels positions") {
    val c = cube(Seq((1.0, "B1", 5.0), (2.0, "B1", 7.0), (3.0, "B1", 9.0)))
    val out = ApplyOps.applyDimensionTarget(c, "x",
      arr => slice(arr, 2, 2)) // drops the first element → relabel
    val rows = out.df.collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((0L, 7.0), (1L, 9.0)))
  }

  test("merge_cubes stacks identical cubes on a new dim when no resolver") {
    val a = cube(Seq((1.0, "B1", 1.0), (2.0, "B1", 2.0)))
    val b = cube(Seq((1.0, "B1", 10.0), (2.0, "B1", 20.0)))
    val stacked = MergeOps.mergeCubes(a, b, None)
    assert(stacked.meta.dimNames == Seq("x", "band", "cubes"))
    val got = stacked.df.collect()
      .map(r => (r.getDouble(0), r.getString(3), r.getDouble(2))).toSet
    assert(got == Set((1.0, "cube1", 1.0), (2.0, "cube1", 2.0),
      (1.0, "cube2", 10.0), (2.0, "cube2", 20.0)))
    // differing label sets without resolver still error on overlap
    val c2 = cube(Seq((1.0, "B1", 5.0), (3.0, "B1", 6.0)))
    val merged = MergeOps.mergeCubes(a, c2, None)
    intercept[Exception] { merged.df.collect() }
  }

  test("filter_bands raises on the driver for a band its known labels lack") {
    val c = cube(Seq((1.0, "B1", 1.0), (1.0, "B2", 2.0)))
      .copy(labels = Map("band" -> Seq("B1", "B2")))
    val ok = FilterOps.filterBands(c, Seq("B1"))
    assert(ok.df.collect().length == 1)
    val (e, jobs) = JobCount(intercept[IllegalArgumentException] {
      FilterOps.filterBands(c, Seq("B1", "B9"))
    })
    assert(e.getMessage.startsWith("BandFilterParameterMissing"), e.getMessage)
    assert(e.getMessage.contains("B9") && !e.getMessage.contains("B1"))
    assert(jobs == 0, s"$jobs Spark jobs ran for the band check")
    // without known band labels the request is not checked
    assert(FilterOps.filterBands(c.copy(labels = Map.empty), Seq("B1", "B9"))
      .df.collect().length == 1)
  }

  test("rename_labels checked: remap, LabelExists, LabelNotAvailable, LabelMismatch") {
    val c = cube(Seq((1.0, "B1", 1.0), (1.0, "B2", 2.0)))
    // happy path: explicit source/target
    val renamed = CubeDimOps.renameLabelsChecked(c, "band", Seq("red"), Seq("B1"))
    assert(renamed.df.select("band").distinct().collect().map(_.getString(0)).toSet
      == Set("red", "B2"))
    // positional relabel with empty source
    val positional = CubeDimOps.renameLabelsChecked(c, "band", Seq("x1", "x2"))
    assert(positional.df.select("band").distinct().collect().map(_.getString(0)).toSet
      == Set("x1", "x2"))
    assert(intercept[IllegalArgumentException] {
      CubeDimOps.renameLabelsChecked(c, "band", Seq("B2"), Seq("B1"))
    }.getMessage.startsWith("LabelExists"))
    assert(intercept[IllegalArgumentException] {
      CubeDimOps.renameLabelsChecked(c, "band", Seq("red"), Seq("B9"))
    }.getMessage.startsWith("LabelNotAvailable"))
    assert(intercept[IllegalArgumentException] {
      CubeDimOps.renameLabelsChecked(c, "band", Seq("red", "green"), Seq("B1"))
    }.getMessage.startsWith("LabelMismatch"))
    assert(intercept[IllegalArgumentException] {
      CubeDimOps.renameLabelsChecked(c, "band", Seq("red")) // fewer targets, not enumerated
    }.getMessage.startsWith("LabelsNotEnumerated"))
  }

  test("rename_labels positional order is native (numeric), not lexical") {
    // 11 integer labels: a lexical string sort would order them
    // 0,1,10,2,…,9 and an enumerated-prefix rename would hit label 10
    // instead of label 2 — the label list must follow the NATIVE column
    // order (reference general.py:171-204 maps in coord order)
    val df = (0 to 10).map(i => (i, i * 1.0)).toDF("t", "value")
    val c = DataCube.fromTable(df, Seq("t"), "value")
    val renamed = CubeDimOps.renameLabelsChecked(c, "t", Seq("a", "b", "c"))
    val got = renamed.df.select(col("t").cast("string"), col("value"))
      .collect().map(r => r.getDouble(1) -> r.getString(0)).toMap
    assert(got(0.0) == "a" && got(1.0) == "b" && got(2.0) == "c")
    assert(got(10.0) == "10") // NOT renamed — it is not in the first three
  }

  test("filter_bands narrows materialised labels to the requested set") {
    val df = Seq((1.0, "B1", 1.0), (1.0, "B2", 2.0), (1.0, "B3", 3.0))
      .toDF("x", "band", "value")
    val c = DataCube(df, CubeMetadata(Seq(
      CubeDim("x", DimType.Spatial), CubeDim("band", DimType.Bands)),
      None, "value"), Map("x" -> Seq("1.0"), "band" -> Seq("B1", "B2", "B3")))
    val f = FilterOps.filterBands(c, Seq("B3", "B1"))
    // native (column) order, not the requested order; the other dims'
    // labels are no longer known
    assert(f.labels == Map("band" -> Seq("B1", "B3")))
    assert(f.df.select("band").distinct().collect()
      .map(_.getString(0)).toSet == Set("B1", "B3"))
  }

  test("run_udf pipes cells through a python subprocess and back") {
    val c = cube(Seq((1.0, "B1", 2.0), (2.0, "B1", 3.0), (1.0, "B2", null)))
    val out = UdfOps.runUdf(c,
      "def udf(row):\n    v = row['value']\n    return None if v is None else v * 10 + row['x']")
    val got = out.df.collect()
      .map(r => (r.getDouble(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == Set((1.0, "B1", 21.0), (2.0, "B1", 32.0), (1.0, "B2", null)))
    intercept[IllegalArgumentException] {
      UdfOps.runUdf(c, "def udf(row): return 1", runtime = "R")
    }
  }

  test("run_udf chunk-level: one vectorized call per chunk, may reshape") {
    val c = cube(Seq((1.0, "B1", 2.0), (2.0, "B1", 3.0), (3.0, "B1", 4.0),
      (1.0, "B2", 5.0), (2.0, "B2", 6.0), (3.0, "B2", 7.0)))
    // one chunk: the udf sees ALL rows in a single call — it stamps the
    // chunk size into each value, which only a whole-chunk view can know
    val oneChunk = c.withDf(_.repartition(1))
    val out = UdfOps.runUdfChunked(oneChunk,
      "def udf(rows):\n" +
        "    n = len(rows)\n" +
        "    return [dict(r, value=r['value'] * 10 + n) for r in rows]")
    val got = out.df.collect()
      .map(r => (r.getDouble(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1.0, "B1") -> 26.0, (2.0, "B1") -> 36.0,
      (3.0, "B1") -> 46.0, (1.0, "B2") -> 56.0, (2.0, "B2") -> 66.0,
      (3.0, "B2") -> 76.0))
    // reshaping: the udf may return fewer rows than it received (a
    // chunk-level reduction), something the cell-level flavour cannot do
    val reduced = UdfOps.runUdfChunked(oneChunk,
      "def udf(rows):\n" +
        "    best = max(rows, key=lambda r: r['value'])\n" +
        "    return [best]")
    assert(reduced.df.count() == 1)
    assert(reduced.df.collect()(0).getDouble(2) == 7.0)
  }

  test("load_url reads GeoJSON and Parquet from file URLs; rejects bad format") {
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},
       "properties":{"name":"a"}}]}"""
    val gjPath = java.nio.file.Files.createTempFile("graft_url", ".json")
    java.nio.file.Files.writeString(gjPath, gj)
    val vdf = graft.sources.UrlLoader.loadUrl(spark, gjPath.toUri.toString,
      "GeoJSON", Seq("name"))
    assert(vdf.count() == 1 &&
      vdf.select("name").collect()(0).getString(0) == "a")
    val pqDir = java.nio.file.Files.createTempDirectory("graft_urlpq")
    val single = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    single.coalesce(1).write.mode("overwrite").parquet(pqDir.toString + "/t")
    val part = new java.io.File(pqDir.toString + "/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val pdf = graft.sources.UrlLoader.loadUrl(spark, part.toURI.toString, "Parquet")
    assert(pdf.count() == 2)
    val e = intercept[IllegalArgumentException] {
      graft.sources.UrlLoader.loadUrl(spark, "file:///nope", "CSV")
    }
    assert(e.getMessage.startsWith("FormatUnsuitable"))
  }

  test("apply_kernel border modes match scipy convolve semantics") {
    import KernelOps._
    // 1-D grid [1,2,3,4]; kernel reach 2 distinguishes every mode:
    // out(0) = in(2)·1 + in(0)·2 + in(-2)·1 with in(-2) per border mode
    val df = Seq((0L, 0L, 1.0), (1L, 0L, 2.0), (2L, 0L, 3.0), (3L, 0L, 4.0))
      .toDF("x", "y", "value")
    val c = DataCube.fromTable(df, Seq("x", "y"), "value")
    val kern = Seq(Seq(1.0, 0.0, 2.0, 0.0, 1.0))
    def out0(mode: BorderMode): Double =
      applyKernelBorder(c, kern, mode, 1.0, (0L, 3L), (0L, 0L))
        .df.filter(col("x") === 0).collect()(0).getDouble(2)
    assert(out0(Replicate) == 6.0)    // in(-2) -> a = 1
    assert(out0(Reflect) == 7.0)      // dcba|abcd : in(-2) -> b = 2
    assert(out0(ReflectPixel) == 8.0) // dcb|abcd  : in(-2) -> c = 3
    assert(out0(Wrap) == 8.0)         // in(-2) -> in(2) = 3
    assert(out0(Constant(10.0)) == 15.0)
  }

  test("tiled stencil == join form, every border mode, across tile seams") {
    import KernelOps._
    // 13×9 dense grid, integer values, power-of-two weights → every product
    // and partial sum is exact in binary, so the two physical forms must
    // agree BIT-FOR-BIT regardless of summation order. tileSize=4 puts tile
    // seams (and their halos) through the middle of the grid.
    val cells = for (x <- 0L to 12L; y <- 0L to 8L)
      yield (x, y, ((x * 31 + y * 17) % 23).toDouble)
    val c = DataCube.fromTable(cells.toDF("x", "y", "value"), Seq("x", "y"), "value")
    val kern = Seq( // asymmetric, one zero weight
      Seq(1.0, 2.0, 0.5),
      Seq(0.0, 4.0, 1.0),
      Seq(0.25, 8.0, 2.0))
    for (mode <- Seq(Replicate, Reflect, ReflectPixel, Wrap, Constant(7.0))) {
      val a = applyKernelBorder(c, kern, mode, 2.0, (0L, 12L), (0L, 8L)).df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val b = applyKernelTiled(c, kern, mode, 2.0, (0L, 12L), (0L, 8L), tileSize = 4).df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(a.sameElements(b), s"$mode: join=${a.take(3).toSeq} tiled=${b.take(3).toSeq}")
    }
  }

  test("tiled stencil handles sparse cubes: fill under Constant, skip otherwise") {
    import KernelOps._
    // knock holes in the grid; non-constant modes must also drop cells whose
    // every neighbor is missing, exactly like the inner-join form
    val cells = (for (x <- 0L to 12L; y <- 0L to 8L)
      yield (x, y, ((x * 5 + y * 3) % 11).toDouble))
      .filterNot { case (x, y, _) => (x * 7 + y) % 3 == 0 }
    val c = DataCube.fromTable(cells.toDF("x", "y", "value"), Seq("x", "y"), "value")
    val kern = Seq(Seq(1.0, 2.0, 1.0))
    for (mode <- Seq(Replicate, Wrap, Constant(3.0))) {
      val a = applyKernelBorder(c, kern, mode, 1.0, (0L, 12L), (0L, 8L)).df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val b = applyKernelTiled(c, kern, mode, 1.0, (0L, 12L), (0L, 8L), tileSize = 4).df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(a.sameElements(b), s"$mode")
    }
  }

  test("mask broadcasts a small mask but not an oversized one") {
    val data = DataCube.fromTable(
      spark.range(1000000L).select(col("id").as("x"),
        col("id").cast("double").as("value")), Seq("x"), "value")
    val small = DataCube.fromTable(
      spark.range(10L).select(col("id").as("x"), (col("id") % 2 === 0).as("value")),
      Seq("x"), "value")
    val planSmall = MergeOps.mask(data, small).df.queryExecution.sparkPlan.toString
    assert(planSmall.contains("BroadcastHashJoin"))
    // ~50M rows × 2 cols: Catalyst's size estimate exceeds the broadcast cap,
    // so the hint must NOT be attached — a full-resolution mask would OOM.
    val big = DataCube.fromTable(
      spark.range(50000000L).select(col("id").as("x"), (col("id") % 2 === 0).as("value")),
      Seq("x"), "value")
    val planBig = MergeOps.mask(data, big).df.queryExecution.sparkPlan.toString
    assert(!planBig.contains("BroadcastHashJoin"))
  }

  test("approx quantiles track exact within sketch tolerance on skewed data") {
    val sess = spark
    import sess.implicits._
    // log-skewed values: the case where an exact per-group sort buffer
    // hurts at scale and the sketch must still land on the right quantile
    val vals = (1 to 20000).map(i => math.pow(1.0007, i))
    val df = vals.map(v => ("g", v)).toDF("k", "v")
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val row = df.groupBy("k").agg(
      Reducers.quantilesR(col("v"), ps).as("exact"),
      Reducers.approxQuantilesR(col("v"), ps, accuracy = 10000).as("approx"))
      .first()
    val exact = row.getSeq[Double](1)
    val approx = row.getSeq[Double](2)
    exact.zip(approx).zip(ps).foreach { case ((e, a), p) =>
      // percentile_approx guarantees RANK error <= n/accuracy = 2 ranks;
      // allow the value at +-5 ranks for interpolation slack
      val rank = vals.count(_ <= a)
      val wantRank = (p * vals.size).round
      assert(math.abs(rank - wantRank) <= 5, s"p=$p exact=$e approx=$a rank=$rank")
    }
  }

  test("flatten/unflatten dimensions: separators, collisions, null labels") {
    val c = cube(Seq((1.0, "a", 2.0), (2.0, "b", 3.0)))
    // custom separator round-trips
    val flat = CubeDimOps.flattenDimensions(c, Seq("x", "band"), "xb",
      labelSeparator = "|")
    assert(flat.meta.dimNames == Seq("xb"))
    assert(flat.df.select(col("xb")).as[String].collect().toSet ==
      Set("1.0|a", "2.0|b"))
    val back = CubeDimOps.unflattenDimension(flat, "xb", Seq("x2", "b2"),
      labelSeparator = "|")
    assert(back.df.select(col("x2"), col("b2"), col("value"))
      .as[(String, String, Double)].collect().toSet ==
      Set(("1.0", "a", 2.0), ("2.0", "b", 3.0)))
    // single-dim flatten is a plain relabel-to-string
    val one = CubeDimOps.flattenDimensions(c, Seq("x"), "xs")
    assert(one.meta.dimNames == Seq("band", "xs"))
    // target colliding with a surviving dim or the value column → error
    intercept[IllegalArgumentException] {
      CubeDimOps.flattenDimensions(c, Seq("x"), "band")
    }
    intercept[IllegalArgumentException] {
      CubeDimOps.flattenDimensions(c, Seq("x"), "value")
    }
    intercept[IllegalArgumentException] {
      CubeDimOps.unflattenDimension(flat, "xb", Seq("x2", "value"))
    }
    // a NULL source label flattens to a NULL label (concat propagates),
    // never to a silently shorter string
    val withNull = DataCube.fromTable(
      Seq((Option.empty[String], "a", 1.0), (Some("k"), "b", 2.0))
        .toDF("x", "band", "value"), Seq("x", "band"), "value")
    val fn = CubeDimOps.flattenDimensions(withNull, Seq("x", "band"), "xb")
    assert(fn.df.select(col("xb")).as[Option[String]].collect().toSet ==
      Set(None, Some("k~b")))
  }
}
