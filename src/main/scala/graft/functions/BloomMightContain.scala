package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `bloom.mightContain(key)` as a native codegen predicate — the probe
  * side of a semi-join runtime filter (`graft_bloom_probe(key, bytes)`).
  *
  * The filter travels as its SERIALIZED bytes in a foldable binary
  * literal (`right`), so the expression serializes with the plan and
  * plan equality is byte-equality; each executor deserializes once
  * into the transient lazy val, and whole-stage codegen probes that
  * object directly — no UDF boundary, no per-row boxing. Bloom
  * semantics give false positives only, never false negatives —
  * callers follow with the exact join, so the filter affects cost,
  * not answers.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_probe expects (bigint key, foldable binary bloom), " +
          s"got (${l.simpleString}, ${r.simpleString}${if (right.foldable) ""
          else ", non-foldable"})")
    }

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      right.eval().asInstanceOf[Array[Byte]]))

  override def nullSafeEval(key: Any, ignoredBytes: Any): Any =
    filter.mightContainLong(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("graftBloom", filter, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (k, _) => s"${ev.value} = $bf.mightContainLong($k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(newLeft, newRight)
}
