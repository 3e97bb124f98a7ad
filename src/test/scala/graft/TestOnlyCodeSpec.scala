package graft

import graft.ScalaSources.scalaSources
import org.scalatest.funsuite.AnyFunSuite

/** Code that only tests use lives under src/test (a source scan, like
  * CubeLabelsSpec's): every `def`, `val` and `object` declared under
  * src/main is named somewhere in src/main or perfbench besides its own
  * declaration, or nowhere in src/test. Overrides and implicits are
  * skipped, since callers reach them without their name.
  *
  * Names are matched as identifier tokens per name, not per owner, and
  * comments and strings count: a test-only definition that shares its
  * name with a live one, or that a scaladoc link names, passes.
  */
class TestOnlyCodeSpec extends AnyFunSuite {

  /** Test-only definitions that stay in src/main, each with its reason. */
  private val allowed = Map(
    "unregisterProcess" ->
      ("public twin of registerProcess: a backend removes the user-defined " +
        "processes it registered"),
    "alignCoordinates" ->
      ("merge_cubes aligns float coordinates within 1e-6 first in the " +
        "reference (merge.py:24-51); not yet called by mergeCubes"))

  private val ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val decl = ("""((?:(?:override|implicit|private|protected|final|""" +
    """lazy|sealed|case)(?:\[\w+\])?\s+)*)(?:def|val|object)\s+""" +
    """([A-Za-z_][A-Za-z0-9_]*)""").r

  /** The names a source declares, overrides and implicits left out. */
  private def declared(src: String): Seq[String] =
    decl.findAllMatchIn(src).filterNot { m =>
      m.group(1).contains("override") || m.group(1).contains("implicit")
    }.map(_.group(2)).toSeq

  private def tokenCounts(srcs: Seq[(String, String)]): Map[String, Int] =
    srcs.flatMap { case (_, src) => ident.findAllIn(src) }
      .groupMapReduce(identity)(_ => 1)(_ + _)

  /** Names declared under src/main that only src/test names. */
  private lazy val testOnly: Set[String] = {
    val main = scalaSources("src/main/scala")
    val mainUses = tokenCounts(main ++ scalaSources("perfbench/src"))
    val testUses = tokenCounts(scalaSources("src/test/scala"))
    val decls = main.flatMap { case (_, src) => declared(src) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    decls.collect {
      case (name, n) if mainUses.getOrElse(name, 0) <= n &&
        testUses.contains(name) => name
    }.toSet
  }

  test("no src/main definition is named only by src/test") {
    val hits = (testOnly -- allowed.keySet).toSeq.sorted
    assert(hits.isEmpty, hits)
  }

  test("every allowed definition is still test-only") {
    assert((allowed.keySet -- testOnly).isEmpty, allowed.keySet -- testOnly)
  }

  test("the declaration pattern skips overrides and implicits") {
    assert(declared("private[graft] lazy val a = 1\n def b(x: Int) = x") ==
      Seq("a", "b"))
    assert(declared("override def c = 1; implicit val d = 2").isEmpty)
    assert(declared("case object E; final object F").sorted == Seq("E", "F"))
  }
}
