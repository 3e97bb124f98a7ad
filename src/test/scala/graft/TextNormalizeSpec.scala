package graft

import graft.functions.NfcNormalize
import graft.pipeline.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Unicode NFC expression (functions.NfcNormalize) and the model-ready
  * canonicalization chain (TextAnalysis.normalizeText): NFC law coverage,
  * the zero-allocation ASCII fast path, null propagation, Cc/Cf
  * stripping, whitespace collapse, and the codegen contract (the whole
  * chain must stay inside WholeStageCodegen -- the reason this is an
  * Expression and not a UDF). Every non-ASCII code point is spelled as a
  * backslash-u escape so no editor/tool can re-normalize the fixtures.
  */
class TextNormalizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  // fixtures (decomposed / composed pairs), all via escapes
  private val eAcuteDec = "fiance\u0301"   // e + combining acute
  private val eAcuteComp = "fianc\u00e9"     // precomposed e-acute
  private val aRingDec = "A\u030aB"         // A + combining ring
  private val aRingComp = "\u00c5B"
  private val angstrom = "\u212b"          // Angstrom sign
  private val jamo = "\u1100\u1161\u11a8" // Hangul L+V+T
  private val syllable = "\uac01"          // precomposed syllable
  private val zwsp = "\u200b"              // zero-width space (Cf)
  private val softHyphen = "\u00ad"          // Cf
  private val ltrMark = "\u200e"           // Cf
  private val nbsp = "\u00a0"                // Zs
  private val bel = "\u0007"                  // Cc

  private def nfcOf(s: String): String =
    NfcNormalize.normalize(UTF8String.fromString(s)).toString

  test("NFC composes decomposed sequences and is idempotent") {
    assert(nfcOf(eAcuteDec) == eAcuteComp)
    assert(nfcOf(aRingDec) == aRingComp)
    // already-composed input unchanged; idempotence
    assert(nfcOf(eAcuteComp) == eAcuteComp)
    assert(nfcOf(nfcOf(eAcuteDec)) == eAcuteComp)
    // singleton composition: Angstrom sign -> A-ring
    assert(nfcOf(angstrom) == aRingComp.take(1))
    // Hangul Jamo L+V+T compose to one precomposed syllable
    assert(nfcOf(jamo) == syllable)
  }

  test("ASCII fast path returns the SAME UTF8String instance") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(NfcNormalize.normalize(in) eq in)
    // non-ASCII but already-normalized input also avoids re-encoding
    val composed = UTF8String.fromString("caf" + eAcuteComp.last)
    assert(NfcNormalize.normalize(composed) eq composed)
  }

  test("nfc Column: null in, null out; non-string input rejected") {
    val df = Seq[(java.lang.Long, String)]((1L, eAcuteDec), (2L, null))
      .toDF("id", "t")
    val got = df.select(col("id"), TextAnalysis.nfc(col("t")).as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains(eAcuteComp) && got(2L).isEmpty)
    val e = intercept[Exception] {
      df.select(TextAnalysis.nfc(col("id"))).collect()
    }
    assert(e.getMessage.contains("graft_nfc"))
  }

  test("normalizeText: NFC + Cc/Cf strip + collapse + trim, in order") {
    val rows = Seq(
      // ZWSP (Cf) splits a word -> JOINED after the strip (not a space);
      // BEL and tab are Cc; whitespace runs collapse; edges trim; the
      // decomposed accent composes
      ("  " + eAcuteDec + " ze" + zwsp + "ro \t ") -> (eAcuteComp + " zero"),
      // soft hyphen and LTR mark (both Cf) vanish
      ("soft" + softHyphen + "hyphen " + ltrMark + "ltr") -> "softhyphen ltr",
      // newlines are Cc: stripped BEFORE the collapse, so lines join
      "line1\nline2" -> "line1line2",
      // BEL embedded mid-word drops without joining damage
      ("be" + bel + "ll") -> "bell",
      // NBSP is Zs -- neither Cc/Cf nor backslash-s: survives untouched
      ("a" + nbsp + "b") -> ("a" + nbsp + "b"),
      "" -> ""
    )
    val got = rows.map(_._1).zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.normalizeText(col("t")).as("n"))
      .as[(Int, String)].collect().toMap
    rows.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i) == want, s"case $i")
    }
  }

  test("normalize_text graph node == normalizeText twin") {
    import graft.core.DataCube
    import graft.plans.ProcessGraph
    val df = Seq((1L, "  " + eAcuteDec + " ze" + zwsp + "ro \t "),
      (2L, "plain  text")).toDF("id", "value")
    val cube = DataCube.fromTable(df, Seq("id"), "value")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "n": {"process_id": "normalize_text",
        |        "arguments": {"data": {"from_node": "l"}},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, g, _ => cube).df
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> (eAcuteComp + " zero"), 2L -> "plain text"))
  }

  /** JVM-reference form of the chain, for the codegen parity test. */
  private def nfcChain(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      .replaceAll("[\\p{Cc}\\p{Cf}]", "").replaceAll("\\s+", " ").trim

  test("the normalization chain stays inside WholeStageCodegen") {
    val inputs = Seq("x" + eAcuteDec.last + "  yz", "plain",
      "  a" + zwsp + " b  ")
    // repartition defeats ConvertToLocalRelation, so the projection is a
    // REAL codegen stage instead of a driver-folded LocalTableScan
    val df = inputs.toDF("t").repartition(2)
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
    // AQE hides codegen wrapping in the initial plan string; ask the
    // codegen explain mode, which compiles the subtrees
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(plan.contains("WholeStageCodegen subtree"), plan.take(500))
    // and the generated code computes the same answers as the JVM chain
    assert(df.as[String].collect().toSet == inputs.map(nfcChain).toSet)
  }
}
