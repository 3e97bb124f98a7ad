package graft

import graft.ScalaSources.scalaSources
import org.scalatest.funsuite.AnyFunSuite

/** One plan per pipeline operator: an operator that materializes at fixed
  * points keeps no lazy twin behind a Boolean switch, and plan audits and
  * the plan dump read the plans that ran instead of a twin. Two switches
  * stay, both turned off by `graft.Stress`'s recorded scale protocol:
  * `jaccardJoin`'s `cachePrefix` and `substringDupStats`'s `cacheWindows`.
  * Source scans, like DecodePathSpec's.
  */
class OnePlanPerOperatorSpec extends AnyFunSuite {

  test("pipeline operators keep only the two scale-protocol switches") {
    val switch = """\b(cache[A-Z]\w*|materialize)\s*:\s*Boolean""".r
    val found = scalaSources("src/main/scala/graft/pipeline").flatMap {
      case (_, src) => switch.findAllMatchIn(src).map(_.group(1))
    }
    assert(found.sorted == Seq("cachePrefix", "cacheWindows"), found)
    assert(switch.findFirstIn("materialize: Boolean = true").nonEmpty)
    assert(switch.findFirstIn("cacheScored : Boolean").nonEmpty)
  }

  test("no lazy plan forms are kept for the plan dump") {
    val name = "lazy" + "Forms"
    val hits = scalaSources("src").filter(_._2.contains(name)).map(_._1)
    assert(hits.isEmpty, hits)
  }

  test("plan audits and the plan dump pass no cache or materialize switch") {
    val arg = """\b(cache[A-Z]\w*|materialize)\s*=(?!=)""".r
    val files = scalaSources("src/test/scala/graft/PlanAuditSpec.scala",
      "src/test/scala/graft/RetrievalGraphSpec.scala",
      "src/main/scala/graft/tools/ExplainDump.scala")
    assert(files.size == 3)
    for ((p, src) <- files)
      assert(arg.findFirstIn(src).isEmpty, p)
    assert(arg.findFirstIn("cachePostings = false").nonEmpty)
    assert(arg.findFirstIn("materialize = false").nonEmpty)
    assert(arg.findFirstIn("materialize == x").isEmpty)
  }
}
