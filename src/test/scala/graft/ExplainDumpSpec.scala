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

  test("the dump shows the plans a checkpointing query ran") {
    // substring_dup returns a checkpoint, whose own plan is only the
    // checkpoint scan; its materializing job hash-partitions the window
    // keys, and the dump must show that exchange
    val out = ExplainDump.dump(TestSession.spark, "/root/testdata/sf0.001",
      "substring_dup")
    assert("Exchange hashpartitioning\\(wkey".r.findFirstIn(out).isDefined, out)
  }
}
