package graft

import graft.core._
import graft.functions.{QuantileSketchAgg, SpaceSavingAgg, ThetaSketchAgg}
import graft.plans.ProcessGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph-registry arms for the sketch family (heavy_hitters,
  * quantiles_sketch, distinct_count, set_overlap): each graph node must
  * equal its direct Aggregator twin — the evidence rows the registry
  * completeness spec requires for these arms.
  */
class GraphSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def docsCube: DataCube = {
    val rnd = new scala.util.Random(42)
    val df = (0 until 500).map { i =>
      (i.toLong, s"w${rnd.nextInt(40)}")
    }.toDF("id", "value")
    DataCube.fromTable(df, Seq("id"), "value")
  }

  private def numsCube: DataCube = {
    val rnd = new scala.util.Random(7)
    val df = (0 until 800).map(i => (i.toLong, rnd.nextInt(300) / 10.0))
      .toDF("id", "value")
    DataCube.fromTable(df, Seq("id"), "value")
  }

  test("heavy_hitters node == SpaceSaving twin") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "h": {"process_id": "heavy_hitters",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "capacity": 1024, "k": 5},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, graph, _ => docsCube).df
      .select(col("rank"), col("key"), col("count"))
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    val want = docsCube.df
      .agg(SpaceSavingAgg.column(col("value").cast("string"), 1024, 5).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rank", "e")))
      .select(col("rank"), col("e.key"), col("e.count"))
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty && got == want)
    // no-eviction regime: counts are the exact groupBy counts
    val exact = docsCube.df.groupBy(col("value")).count()
      .as[(String, Long)].collect().toMap
    got.foreach { case (_, k, c) => assert(exact(k) == c) }
  }

  test("quantiles_sketch node == GK twin (and exact in the gate regime)") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "q": {"process_id": "quantiles_sketch",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "scale": 10, "permille": [250, 500, 900]},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, graph, _ => numsCube).df
      .as[(Int, Long)].collect().toMap
    val want = numsCube.df
      .agg(QuantileSketchAgg.column(round(col("value") * 10).cast("long"),
        lit(1L), 16384, Seq(250, 500, 900)).as("qp"))
      .select(explode(col("qp")).as("e"))
      .select(col("e.pm"), col("e.v"))
      .as[(Int, Long)].collect().toMap
    assert(got.size == 3 && got == want)
    // exact-regime cross-check against a plain sorted rank walk
    val vals = numsCube.df.select(round(col("value") * 10).cast("long"))
      .as[Long].collect().sorted
    got.foreach { case (pm, v) =>
      val r = math.max(1L, (pm.toLong * vals.length + 999L) / 1000L)
      assert(v == vals((r - 1).toInt), s"pm=$pm")
    }
  }

  test("distinct_count node == theta twin == exact distinct") {
    val graph =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "d": {"process_id": "distinct_count",
        |        "arguments": {"data": {"from_node": "l"}},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, graph, _ => docsCube).df
      .as[(String, Long)].collect().toMap
    val exact = docsCube.df.select(countDistinct(col("value")))
      .as[Long].collect().head
    assert(got == Map("distinct" -> exact))
  }

  test("set_overlap node == exact set arithmetic in the gate regime") {
    val a = docsCube
    val bDf = (0 until 300).map { i =>
      (i.toLong, if (i % 2 == 0) s"w${i % 25}" else s"x$i")
    }.toDF("id", "value")
    val b = DataCube.fromTable(bDf, Seq("id"), "value")
    val coll: String => DataCube = { case "a" => a; case "b" => b }
    val graph =
      """{"process_graph": {
        |  "la": {"process_id": "load_collection", "arguments": {"id": "a"}},
        |  "lb": {"process_id": "load_collection", "arguments": {"id": "b"}},
        |  "o": {"process_id": "set_overlap",
        |        "arguments": {"data": {"from_node": "la"},
        |                      "right": {"from_node": "lb"}},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, graph, coll).df
      .as[(String, Long)].collect().toMap
    val sa = a.df.select(col("value")).as[String].collect().toSet
    val sb = bDf.select(col("value")).as[String].collect().toSet
    val nc = sa.intersect(sb).size.toLong
    val want = Map(
      "n_a" -> sa.size.toLong, "n_b" -> sb.size.toLong, "n_common" -> nc,
      "jaccard_ppm" -> nc * 1000000L / (sa.size + sb.size - nc))
    assert(got == want)
  }

  test("top_k node == row_number window answer, grouped and global") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 600).map { i =>
      (s"g${i % 5}", i.toLong, rnd.nextInt(50).toDouble) // heavy value ties
    }
    val cube = DataCube.fromTable(rows.toDF("grp", "id", "value"),
      Seq("grp", "id"), "value")
    def windowTop(k: Int, grouped: Boolean): Set[(String, Long, Long, Double)] =
      rows.groupBy(r => if (grouped) r._1 else "").toSeq.flatMap {
        case (g, rs) =>
          rs.sortBy { case (_, id, v) => (-v, id) }.take(k).zipWithIndex
            .map { case ((_, id, v), i) => (g, i + 1L, id, v) }
      }.toSet
    val grouped =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "t": {"process_id": "top_k",
        |        "arguments": {"data": {"from_node": "l"}, "k": 4,
        |                      "group": "grp", "id_dimension": "id"},
        |        "result": true}
        |}}""".stripMargin
    val gotG = ProcessGraph.execute(spark, grouped, _ => cube).df
      .select(col("grp"), col("rank"), col("id"), col("value"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(gotG == windowTop(4, grouped = true))
    val global =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "t": {"process_id": "top_k",
        |        "arguments": {"data": {"from_node": "l"}, "k": 7,
        |                      "id_dimension": "id"},
        |        "result": true}
        |}}""".stripMargin
    val gotAll = ProcessGraph.execute(spark, global, _ => cube).df
      .select(lit("").as("g"), col("rank"), col("id"), col("value"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(gotAll == windowTop(7, grouped = false))
    // unknown dimension → the openEO DimensionNotAvailable wire error
    val bad = global.replace(""""id_dimension": "id"""",
      """"id_dimension": "nope"""")
    val e = intercept[Exception] {
      ProcessGraph.execute(spark, bad, _ => cube).df.collect()
    }
    assert(e.getMessage.contains("DimensionNotAvailable"))
  }
}
