package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Bloom-filter membership probe over a string key.
  *
  * The driving use is [[graft.pipeline.Dedup.incrementalNew]]: the corpus
  * scan's prefilter must stay inside whole-stage codegen — a Scala UDF
  * wrapper both breaks the codegen span and defeats common-subexpression
  * elimination for the key expression it probes (the md5 was evaluated
  * once for the UDF, once for the null check, once for the projection).
  * This expression deserializes the sketch ONCE (a plan-lifetime reference
  * object shipped with the generated class, not per row) and probes raw
  * UTF-8 bytes without materializing a java.lang.String per row.
  * `BloomFilter.putString`/`mightContainString` hash the UTF-8 encoding,
  * so `mightContainBinary` over `UTF8String.getBytes` is the same
  * membership test minus the decode.
  *
  * Spark's own `BloomFilterMightContain` (the `InjectRuntimeFilter`
  * machinery) is the in-engine precedent, but it is wired to
  * `xxhash64`-of-long semantics and injected only under inner equi-joins —
  * anti-join prefilters need this hand-built form.
  *
  * First argument: the serialized sketch (`BloomFilter.writeTo` bytes) as
  * a foldable binary literal.
  */
case class BloomProbe(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) if left.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_bloom_probe expects (foldable binary sketch, string key), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def dataType: DataType = BooleanType

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        left.eval(null).asInstanceOf[Array[Byte]]))

  override def nullSafeEval(b: Any, k: Any): Any =
    filter.mightContainBinary(k.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, k) =>
      s"${ev.value} = $ref.mightContainBinary($k.getBytes());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbe =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bloom_probe"
}
