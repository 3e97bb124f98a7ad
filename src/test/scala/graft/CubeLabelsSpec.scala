package graft

import graft.ScalaSources.scalaSources
import org.scalatest.funsuite.AnyFunSuite

/** Cube labels sit beside the frame they describe (source scans, like
  * DecodePathSpec's): a cube built from a new frame starts without labels,
  * so no operator copies a cube's labels onto rows they no longer
  * describe, and operators and plans count a dimension's labels through
  * `DataCube.labelsOf`, which answers known labels without a job.
  */
class CubeLabelsSpec extends AnyFunSuite {

  test("no cube keeps its labels across a new frame") {
    val copyDf = """\.copy\(\s*df\b""".r
    val hits = scalaSources("src/main/scala/graft")
      .filter { case (_, src) => copyDf.findFirstIn(src).nonEmpty }.map(_._1)
    assert(hits.isEmpty, hits)
    assert(copyDf.findFirstIn("cube.copy(df = out)").nonEmpty)
  }

  test("operators and plans count labels through labelsOf") {
    val count = """distinct\(\)\s*\.count\(\)""".r
    val hits = scalaSources("src/main/scala/graft/operators",
      "src/main/scala/graft/plans")
      .filter { case (_, src) => count.findFirstIn(src).nonEmpty }.map(_._1)
    assert(hits.isEmpty, hits)
    assert(count.findFirstIn("df.select(col(d)).distinct()\n  .count()").nonEmpty)
  }
}
