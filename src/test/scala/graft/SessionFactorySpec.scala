package graft

import graft.core.SparkTuning
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The session factory's contracts: `SPARK_GRAFT_CPUS` parses in one place
  * and fails loudly, and every session under `src/` is built by
  * [[SparkTuning.localSession]] (a source scan, like
  * RegistryCompletenessSpec's, so a new hand-written builder fails here).
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

  test("sessions are built only in core/SparkTuning.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      builder.findAllMatchIn(src).map(_ => p.toString)
    }
    assert(hits == Seq("src/main/scala/graft/core/SparkTuning.scala"), hits)
  }
}
