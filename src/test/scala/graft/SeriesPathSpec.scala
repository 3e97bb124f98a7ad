package graft

import graft.ScalaSources.scalaSources
import org.scalatest.funsuite.AnyFunSuite

/** Array callbacks read their series from one builder (a source scan, like
  * CubeLabelsSpec's): `DataCube.series` is the one `groupBy` that collects
  * a dimension's values in label order, so reduce_dimension,
  * apply_dimension and the series queries cannot drift apart in how they
  * order, key or null a series.
  */
class SeriesPathSpec extends AnyFunSuite {

  test("array callbacks build their series only through DataCube.series") {
    val collect = """collect_list\(\s*struct\(""".r
    val files = Seq("ApplyOps.scala", "ReduceOps.scala", "SeriesQueries.scala")
    val srcs = scalaSources("src/main/scala/graft/operators",
      "src/main/scala/graft/queries")
      .filter { case (p, _) => files.exists(f => p.endsWith(s"/$f")) }
    assert(srcs.map(_._1.split('/').last).toSet == files.toSet)
    val hits = srcs.filter { case (_, src) => collect.findFirstIn(src).nonEmpty }
      .map(_._1)
    assert(hits.isEmpty, hits)
    assert(collect.findFirstIn("sort_array(collect_list(struct(col(d)")
      .nonEmpty)
  }
}
