package graft

import graft.core.SparkTuning
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The session factory's contracts: `SPARK_GRAFT_CPUS` parses in one place
  * and fails loudly, every session under `src/` is built by
  * [[SparkTuning.localSession]], and library code writes no session conf
  * outside `SparkTuning` (source scans, like RegistryCompletenessSpec's, so
  * a new hand-written builder or conf write fails here).
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a good value parses, a malformed value or 0 throws") {
    assert(SparkTuning.parseCpus(Some("8"), 3) == 8)
    assert(SparkTuning.parseCpus(Some(" 2 "), 3) == 2)
    assert(SparkTuning.parseCpus(None, 3) == 3)
    for (bad <- Seq("eight", "4c", "", "0", "-1")) {
      val e = intercept[IllegalArgumentException](
        SparkTuning.parseCpus(Some(bad), 3))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  private def scalaSources(roots: String*): Seq[(String, String)] =
    roots.flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.map(p => p.toString ->
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  test("sessions are built only in core/SparkTuning.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val hits = scalaSources("src/main/scala", "src/test/scala")
      .flatMap { case (p, src) => builder.findAllMatchIn(src).map(_ => p) }
    assert(hits == Seq("src/main/scala/graft/core/SparkTuning.scala"), hits)
  }

  test("session conf is written only in core/SparkTuning.scala and tools") {
    // a runtime-conf write on a caller's session leaks into every thread
    // sharing it; entry points needing their own settings run on
    // SparkTuning.scopedSession instead. Hadoop `Configuration.set` calls
    // (WarcWriter's per-task conf) are not session conf and do not match.
    val write = """\.conf\s*\.\s*(set|unset)\s*\(""".r
    val allowed = Seq("src/main/scala/graft/core/SparkTuning.scala",
      "src/main/scala/graft/tools/")
    val hits = scalaSources("src/main/scala").flatMap { case (p, src) =>
      write.findAllMatchIn(src).map(_ => p)
    }.distinct
    val outside = hits.filterNot(p => allowed.exists(p.startsWith))
    assert(outside.isEmpty, outside)
    // the pattern itself: session writes match, a Hadoop conf write does not
    assert(write.findFirstIn("spark.conf.set(k, v)").nonEmpty)
    assert(write.findFirstIn("sess.conf.unset(aqeKey)").nonEmpty)
    assert(write.findFirstIn("case (k, v) => conf.set(k, v)").isEmpty)
  }
}
