package graft

import graft.core._
import graft.operators.{ApplyOps, ReduceOps, WindowOps}
import graft.plans.ProcessGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The openEO ordered-array callback contract on apply_dimension GRAPH
  * nodes (reference: cubes/apply.py:42-128 hands the callback the value
  * array along the dimension): graph execution must equal the DataFrame
  * API twins (WindowOps / ApplyOps) on window-class, array-class,
  * element-wise and scalar-result callbacks — plus the compiled-shape
  * guarantees (element-wise callbacks never shuffle).
  */
class ApplyDimensionGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  // two series over t (equally spaced days so position- and
  // coordinate-based interpolation agree), one interior null in B1
  private def cube: DataCube = {
    val df = Seq(
      ("2024-01-01 00:00:00", "B1", Some(3.0)),
      ("2024-01-02 00:00:00", "B1", None),
      ("2024-01-03 00:00:00", "B1", Some(1.0)),
      ("2024-01-01 00:00:00", "B2", Some(10.0)),
      ("2024-01-02 00:00:00", "B2", Some(20.0)),
      ("2024-01-03 00:00:00", "B2", Some(30.0)))
      .toDF("t", "band", "value").withColumn("t", to_timestamp(col("t")))
    DataCube.fromTable(df, Seq("t", "band"), "value")
  }

  /** one band over 8,193 `t` labels: one more than the fold path's cap */
  private def wideCube: DataCube = DataCube.fromTable(
    (0 to 8192).map(i => (i.toLong, "B1", i.toDouble)).toDF("t", "band", "value"),
    Seq("t", "band"), "value")

  private def applyDim(cb: String, extraArgs: String = "",
      data: DataCube = cube): DataCube = {
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "d": {"process_id": "apply_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t"
         |                      $extraArgs,
         |                      "process": {"process_graph": $cb}},
         |        "result": true}
         |}}""".stripMargin
    ProcessGraph.execute(spark, graph, _ => data)
  }

  /** (band, dim label) -> value, NULL-valued cells excluded (so presence
    * in the map asserts non-null and absence plus a row count asserts a
    * preserved-but-null cell).
    */
  private def byBand(c: DataCube): Map[(String, String), Double] =
    c.df.collect().flatMap { r =>
      val band = r.getAs[String]("band")
      val key = r.schema.fieldNames.find(n => n == "t" || n == "idx").get
      Option(r.getAs[Any]("value")).map(v =>
        (band, String.valueOf(r.getAs[Any](key))) ->
          v.asInstanceOf[Double])
    }.toMap

  test("window-class callback (cumsum along t): graph == WindowOps.cumsum") {
    val cb =
      """{"c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_parameter": "data"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = WindowOps.cumsum(cube, "t")
    assert(g.meta.dimNames == Seq("t", "band")) // labels preserved
    val gm = byBand(g)
    val tm = byBand(twin)
    assert(gm == tm)
    // null stays null, accumulation skips it
    assert(gm(("B1", "2024-01-03 00:00:00.0")) == 4.0)
    assert(!gm.contains(("B1", "2024-01-02 00:00:00.0")))
    assert(g.df.filter(col("band") === "B1").count() == 3)
  }

  test("array-class composed callback (interpolate → cumsum): graph == DataFrame chain") {
    val cb =
      """{"i": {"process_id": "array_interpolate_linear",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_node": "i"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = WindowOps.cumsum(WindowOps.interpolateLinear(cube, "t"), "t")
    assert(byBand(g) == byBand(twin))
    // B1 fills [3, 2, 1] then accumulates [3, 5, 6]
    val b1 = byBand(g).collect { case (("B1", t), v) => t.take(10) -> v }
    assert(b1 == Map("2024-01-01" -> 3.0, "2024-01-02" -> 5.0,
      "2024-01-03" -> 6.0))
  }

  test("sort callback keeps length and labels; values re-assigned in order") {
    val cb =
      """{"s": {"process_id": "sort",
        |       "arguments": {"data": {"from_parameter": "data"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    assert(g.meta.dimNames == Seq("t", "band"))
    val b2 = g.df.filter(col("band") === "B2").orderBy(col("t"))
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    assert(b2 == Seq(10.0, 20.0, 30.0))
    // B1's null sorts last (dropped by sort's nodata placement at the
    // series tail): [1, 3, null]
    val b1 = g.df.filter(col("band") === "B1").orderBy(col("t"))
      .select(col("value")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(b1.take(2) == Seq(Some(1.0), Some(3.0)))
  }

  test("element-wise callback compiles to apply: labels kept, ZERO exchanges") {
    val cb =
      """{"m": {"process_id": "multiply",
        |       "arguments": {"x": {"from_parameter": "x"}, "y": 2},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = ApplyOps.apply(cube, _ * 2)
    assert(byBand(g) == byBand(twin))
    val plan = g.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"element-wise apply_dimension must not shuffle:\n$plan")
  }

  test("scalar-result callback (mean) relabels the dim to [0]") {
    val cb =
      """{"m": {"process_id": "mean",
        |       "arguments": {"data": {"from_parameter": "data"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val rows = g.df.collect().map(r =>
      (r.getAs[String]("band"), r.getAs[Long]("t"), r.getAs[Double]("value")))
    assert(rows.toSet == Set(("B1", 0L, 2.0), ("B2", 0L, 20.0)))
  }

  test("target_dimension rename still relabels positions for composed callbacks") {
    val cb =
      """{"c": {"process_id": "cummax",
        |       "arguments": {"data": {"from_parameter": "data"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb, extraArgs = """, "target_dimension": "idx"""")
    assert(g.meta.dimNames == Seq("band", "idx"))
    val b2 = g.df.filter(col("band") === "B2").orderBy(col("idx"))
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    assert(b2 == Seq(10.0, 20.0, 30.0))
  }

  test("cumulative + interpolate array forms: null contract") {
    val arr = Seq((Seq[java.lang.Double](2.0, null, 4.0), 1))
      .toDF("a", "id")
    import graft.functions.ArrayFns
    val out = arr.select(
      ArrayFns.arrayCumsum(col("a")).as("cs"),
      ArrayFns.arrayCummin(col("a")).as("cn"),
      ArrayFns.arrayCummax(col("a")).as("cx"),
      ArrayFns.arrayCumproduct(col("a")).as("cp"),
      ArrayFns.arrayInterpolateLinear(col("a")).as("il")).head()
    def seq(i: Int): Seq[Any] = out.getSeq[Any](i)
    assert(seq(0) == Seq(2.0, null, 6.0))
    assert(seq(1) == Seq(2.0, null, 2.0))
    assert(seq(2) == Seq(2.0, null, 4.0))
    assert(seq(3) == Seq(2.0, null, 8.0))
    assert(seq(4) == Seq(2.0, 3.0, 4.0))
    // boundary nulls stay null after interpolation
    val edge = Seq((Seq[java.lang.Double](null, 1.0, null), 1)).toDF("a", "id")
      .select(ArrayFns.arrayInterpolateLinear(col("a"))).head().getSeq[Any](0)
    assert(edge == Seq(null, 1.0, null))
  }

  test("composed reducer with ARRAY result keeps the array (sort → extrema)") {
    val cb =
      """{"s": {"process_id": "sort",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "e": {"process_id": "extrema",
        |       "arguments": {"data": {"from_node": "s"}},
        |       "result": true}}""".stripMargin
    val graph =
      s"""{"process_graph": {
         |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
         |  "r": {"process_id": "reduce_dimension",
         |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
         |                      "reducer": {"process_graph": $cb}},
         |        "result": true}
         |}}""".stripMargin
    val out = ProcessGraph.execute(spark, graph, _ => cube)
    val rows = out.df.collect().map(r =>
      r.getAs[String]("band") -> r.getSeq[Double](1)).toMap
    assert(rows("B1") == Seq(1.0, 3.0))
    assert(rows("B2") == Seq(10.0, 30.0))
  }

  test("quantiles one-element integral probabilities list expands to cut points") {
    def reduceQuantiles(probArg: String): Seq[Double] = {
      val graph =
        s"""{"process_graph": {
           |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
           |  "r": {"process_id": "reduce_dimension",
           |        "arguments": {"data": {"from_node": "l"}, "dimension": "t",
           |                      "reducer": {"process_graph": {
           |            "q": {"process_id": "quantiles",
           |                  "arguments": {"data": {"from_parameter": "data"},
           |                                $probArg},
           |                  "result": true}}}},
           |        "result": true}
           |}}""".stripMargin
      ProcessGraph.execute(spark, graph, _ => cube)
        .df.filter(col("band") === "B2").head().getSeq[Double](1)
    }
    // [4] means q=4 (quartiles), like the bare number 4 — reference
    // math.py:356-362 — NOT a literal probability 4.0
    assert(reduceQuantiles(""""probabilities": [4]""") ==
      reduceQuantiles(""""probabilities": [0.25, 0.5, 0.75]"""))
    assert(reduceQuantiles(""""probabilities": [4]""") ==
      reduceQuantiles(""""probabilities": 4"""))
    // a genuine single probability stays literal
    assert(reduceQuantiles(""""probabilities": [0.5]""").length == 1)
  }

  private def exchangeCount(c: DataCube): Int =
    // AQE's toString prints the final AND initial plans — count only the
    // final section, and not ReusedExchange (not an extra shuffle)
    c.df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))

  test("mixed chain (multiply(cumsum(data), 2)) stays on the O(n) window path") {
    val cb =
      """{"c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "m": {"process_id": "multiply",
        |       "arguments": {"x": {"from_node": "c"}, "y": 2},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = ApplyOps.apply(WindowOps.cumsum(cube, "t"), _ * 2)
    assert(g.meta.dimNames == Seq("t", "band")) // labels preserved
    assert(byBand(g) == byBand(twin))
    // the scalar step is a projection: it must not add exchanges beyond
    // the window twin's single series shuffle
    assert(exchangeCount(g) == exchangeCount(twin))
  }

  test("head scalar before a window step: cumsum(add(data, 1))") {
    val cb =
      """{"a": {"process_id": "add",
        |       "arguments": {"x": {"from_parameter": "data"}, "y": 1}},
        | "c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_node": "a"}},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = WindowOps.cumsum(ApplyOps.apply(cube, _ + 1), "t")
    assert(byBand(g) == byBand(twin))
    // null cell: add keeps null, cumsum skips it — B1 day3 = (3+1)+(1+1)
    assert(byBand(g)(("B1", "2024-01-03 00:00:00.0")) == 6.0)
    assert(!byBand(g).contains(("B1", "2024-01-02 00:00:00.0")))
  }

  test("scalar run between and after window steps, internal refs intact") {
    // multiply ×2 → cummax → (×3 then +1 as ONE merged projection run)
    val cb =
      """{"m1": {"process_id": "multiply",
        |        "arguments": {"x": {"from_parameter": "data"}, "y": 2}},
        | "c":  {"process_id": "cummax",
        |        "arguments": {"data": {"from_node": "m1"}}},
        | "m2": {"process_id": "multiply",
        |        "arguments": {"x": {"from_node": "c"}, "y": 3}},
        | "a":  {"process_id": "add",
        |        "arguments": {"x": {"from_node": "m2"}, "y": 1},
        |        "result": true}}""".stripMargin
    val g = applyDim(cb)
    val twin = ApplyOps.apply(
      WindowOps.cummax(ApplyOps.apply(cube, _ * 2), "t"), v => v * 3 + 1)
    assert(byBand(g) == byBand(twin))
    assert(exchangeCount(g) == exchangeCount(twin))
  }

  test("broadcast side branch: subtract(data, mean(data)) compiles to a window aggregate") {
    val cb =
      """{"me": {"process_id": "mean",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "s":  {"process_id": "subtract",
        |        "arguments": {"x": {"from_parameter": "data"},
        |                      "y": {"from_node": "me"}},
        |        "result": true}}""".stripMargin
    val g = applyDim(cb)
    assert(g.meta.dimNames == Seq("t", "band")) // labels preserved
    val gm = byBand(g)
    assert(gm(("B2", "2024-01-01 00:00:00.0")) == -10.0)
    assert(gm(("B2", "2024-01-03 00:00:00.0")) == 10.0)
    // mean skips the null: B1 mean = 2 → centered (1, null, -1)
    assert(gm(("B1", "2024-01-01 00:00:00.0")) == 1.0)
    assert(!gm.contains(("B1", "2024-01-02 00:00:00.0")))
    assert(g.df.filter(col("band") === "B1").count() == 3)
    // ONE series shuffle: the side aggregate shares the partition
    assert(exchangeCount(g) == 1)
  }

  test("standardize: divide(subtract(data, mean(data)), sd(data))") {
    val cb =
      """{"me": {"process_id": "mean",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "sd": {"process_id": "sd",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "c":  {"process_id": "subtract",
        |        "arguments": {"x": {"from_parameter": "data"},
        |                      "y": {"from_node": "me"}}},
        | "z":  {"process_id": "divide",
        |        "arguments": {"x": {"from_node": "c"},
        |                      "y": {"from_node": "sd"}},
        |        "result": true}}""".stripMargin
    val gm = byBand(applyDim(cb))
    // B2: mean 20, sample sd 10 → z-scores (-1, 0, 1)
    assert(gm(("B2", "2024-01-01 00:00:00.0")) == -1.0)
    assert(gm(("B2", "2024-01-02 00:00:00.0")) == 0.0)
    assert(gm(("B2", "2024-01-03 00:00:00.0")) == 1.0)
  }

  test("min-max normalize: combo side branch subtract(max(data), min(data))") {
    val cb =
      """{"lo": {"process_id": "min",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "hi": {"process_id": "max",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "rg": {"process_id": "subtract",
        |        "arguments": {"x": {"from_node": "hi"},
        |                      "y": {"from_node": "lo"}}},
        | "sh": {"process_id": "subtract",
        |        "arguments": {"x": {"from_parameter": "data"},
        |                      "y": {"from_node": "lo"}}},
        | "n":  {"process_id": "divide",
        |        "arguments": {"x": {"from_node": "sh"},
        |                      "y": {"from_node": "rg"}},
        |        "result": true}}""".stripMargin
    val gm = byBand(applyDim(cb))
    assert(gm(("B2", "2024-01-01 00:00:00.0")) == 0.0)
    assert(gm(("B2", "2024-01-02 00:00:00.0")) == 0.5)
    assert(gm(("B2", "2024-01-03 00:00:00.0")) == 1.0)
    // B1: min 1, max 3 → (1.0, null, 0.0)
    assert(gm(("B1", "2024-01-01 00:00:00.0")) == 1.0)
    assert(gm(("B1", "2024-01-03 00:00:00.0")) == 0.0)
  }

  test("side branch feeding into a window step: cumsum(subtract(data, mean(data)))") {
    val cb =
      """{"me": {"process_id": "mean",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "s":  {"process_id": "subtract",
        |        "arguments": {"x": {"from_parameter": "data"},
        |                      "y": {"from_node": "me"}}},
        | "c":  {"process_id": "cumsum",
        |        "arguments": {"data": {"from_node": "s"}},
        |        "result": true}}""".stripMargin
    val gm = byBand(applyDim(cb))
    // B2 centered (-10, 0, 10) → cumsum (-10, -10, 0)
    assert(gm(("B2", "2024-01-01 00:00:00.0")) == -10.0)
    assert(gm(("B2", "2024-01-02 00:00:00.0")) == -10.0)
    assert(gm(("B2", "2024-01-03 00:00:00.0")) == 0.0)
  }

  test("fold path keeps the cardinality guard (scalar-result reducer)") {
    // mean(data) as the result is array-aware with no chain: fold path;
    // the guard refuses it above 8,192 labels
    val cb =
      """{"m": {"process_id": "mean",
        |       "arguments": {"data": {"from_parameter": "data"}},
        |       "result": true}}""".stripMargin
    val e = intercept[IllegalArgumentException](
      applyDim(cb, data = wideCube).df.count())
    assert(e.getMessage.contains("has 8193 labels (> 8192)"), e.getMessage)
    // below the cap the fold path still runs
    val rows = applyDim(cb).df.collect().map(r =>
      (r.getAs[String]("band"), r.getAs[Double]("value"))).toSet
    assert(rows == Set(("B1", 2.0), ("B2", 20.0)))
  }

  test("element-wise callbacks are exempt from the fold-label guard") {
    val cb =
      """{"m": {"process_id": "multiply",
        |       "arguments": {"x": {"from_parameter": "x"}, "y": 2},
        |       "result": true}}""".stripMargin
    val g = applyDim(cb, data = wideCube)
    assert(byBand(g) == byBand(ApplyOps.apply(wideCube, _ * 2)))
  }

  /** SHUFFLE exchanges only (broadcast exchanges move a bounded small
    * side, not the data), final AQE plan only.
    */
  private def shuffleCount(c: DataCube): Int =
    c.df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning"))

  test("exchange budgets: the window-chain compile's shuffle inventory") {
    // The compiled chain's scale contract, pinned as absolute budgets:
    //  - a cumsum-family chain is ONE series shuffle, however long;
    //  - interleaved scalar steps and broadcast side branches add ZERO;
    //  - each `sort` step adds exactly ONE more (its value-ordered rank
    //    branch; the rank->rank join reuses the series partitioning — a
    //    join key superset of the partitioning keys needs no re-shuffle —
    //    so no exchange is keyed by the join slot).
    val pure = applyDim(
      """{"c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "m": {"process_id": "cummax",
        |       "arguments": {"data": {"from_node": "c"}},
        |       "result": true}}""".stripMargin)
    assert(shuffleCount(pure) == 1, s"pure chain: ${shuffleCount(pure)}")

    val mixed = applyDim(
      """{"c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "m": {"process_id": "multiply",
        |       "arguments": {"x": {"from_node": "c"}, "y": 2}},
        | "x": {"process_id": "cummax",
        |       "arguments": {"data": {"from_node": "m"}},
        |       "result": true}}""".stripMargin)
    assert(shuffleCount(mixed) == 1, s"mixed chain: ${shuffleCount(mixed)}")

    val broadcastSide = applyDim(
      """{"me": {"process_id": "mean",
        |        "arguments": {"data": {"from_parameter": "data"}}},
        | "s":  {"process_id": "subtract",
        |        "arguments": {"x": {"from_parameter": "data"},
        |                      "y": {"from_node": "me"}},
        |        "result": true}}""".stripMargin)
    assert(shuffleCount(broadcastSide) == 1,
      s"side branch: ${shuffleCount(broadcastSide)}")

    val sortChain = applyDim(
      """{"s": {"process_id": "sort",
        |       "arguments": {"data": {"from_parameter": "data"}}},
        | "c": {"process_id": "cumsum",
        |       "arguments": {"data": {"from_node": "s"}},
        |       "result": true}}""".stripMargin)
    assert(shuffleCount(sortChain) == 2,
      s"sort chain: ${shuffleCount(sortChain)}")
    val sortPlan = sortChain.df.queryExecution.executedPlan.toString
    assert(!sortPlan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_slot")),
      "the rank->rank join must reuse the series partitioning, " +
        "not re-shuffle by slot")
  }
}
