package graft

import graft.tools.ExplainDump
import org.scalatest.funsuite.AnyFunSuite

class ExplainDumpSpec extends AnyFunSuite {

  test("EXPLAIN_CONF parser trims entries and rejects keyless ones") {
    assert(ExplainDump.parseConf(" a = 1 ;b=x=y;; ") ==
      Seq("a" -> "1", "b" -> "x=y"))
    for (bad <- Seq("=v", " = v", "novalue", "a=1;b"))
      intercept[IllegalArgumentException](ExplainDump.parseConf(bad))
  }

  test("lazy plan forms never shadow a registry query") {
    assert(ExplainDump.lazyForms.keySet.intersect(SparkEntry.queries.keySet)
      .isEmpty)
  }
}
