package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the MINIMUM element two ASCENDING-sorted
  * long arrays have in common (Long.MinValue when disjoint).
  *
  * This is the PPJoin exactly-once-emission primitive: the chunked
  * shuffle-posture candidate join asks, per raw collision row, "is MY
  * shingle the smallest hash the two docs' prefixes share?" — so a
  * pair sharing k prefix shingles is emitted exactly once and the
  * pair-stream distinct shuffle disappears (its partial aggregation
  * was useless anyway: a pair's duplicates arrive via DIFFERENT
  * shingle buckets, hence different partitions; measured ~2 s of the
  * 3.2 s candidate stage at sf0.1). A Scala-UDF spelling paid four
  * array deserializations per row on the hottest stream in the
  * pipeline; this is a fused merge scan inside whole-stage codegen —
  * no allocation, early exit at the first (= minimum) match.
  */
case class MinCommonLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_min_common expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val ya = b.asInstanceOf[ArrayData]
    val na = xa.numElements(); val nb = ya.numElements()
    var i = 0; var j = 0
    while (i < na && j < nb) {
      val va = xa.getLong(i); val vb = ya.getLong(j)
      if (va == vb) return va
      else if (va < vb) i += 1
      else j += 1
    }
    Long.MinValue
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0;
         |${ev.value} = java.lang.Long.MIN_VALUE;
         |while ($i < $na && $j < $nb) {
         |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
         |  if ($va == $vb) { ${ev.value} = $va; break; }
         |  else if ($va < $vb) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinCommonLong = copy(newLeft, newRight)
}
