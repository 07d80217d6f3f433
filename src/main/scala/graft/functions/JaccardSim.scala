package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for Jaccard similarity over SORTED
  * DISTINCT long-hash arrays (the shingle representation produced by
  * Kernels.tokenHashes / charNgramHashes).
  *
  * This is the hot inner verify of every near-dup operator — on a
  * duplicate-heavy corpus millions of candidate pairs flow through it —
  * so like CosineSim it runs inside whole-stage codegen: a primitive
  * two-pointer merge on long[] with no UDF boundary and no boxing.
  * Semantics are identical to Kernels.jaccardLongs (J(∅,∅) = 1).
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jaccard expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardLongs(
      a.asInstanceOf[ArrayData].toLongArray(),
      b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      s"""
         |long[] $xa = $a.toLongArray();
         |long[] $ya = $b.toLongArray();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $xa.length && $j < $ya.length) {
         |  if ($xa[$i] == $ya[$j]) { $inter++; $i++; $j++; }
         |  else if ($xa[$i] < $ya[$j]) { $i++; } else { $j++; }
         |}
         |${ev.value} = ($xa.length == 0 && $ya.length == 0) ? 1.0
         |  : (double) $inter / (double) ($xa.length + $ya.length - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim = copy(newLeft, newRight)
}
