package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: 1-based index of the FIRST position
  * where two long arrays hold equal values (0 if none agree).
  *
  * This is the banded-LSH pair-dedup primitive: a pair colliding in k
  * of the bands would surface k times from the bucket join, and each
  * collision row asks "is MY band the first where the two signatures
  * agree?". The raw collision stream is the hottest row count in the
  * whole minhash pipeline (~20M rows at sf0.1 for 5k docs), so the
  * previous spelling — `array_position(zip_with(sig1, sig2, eq), 1)` —
  * paid two allocated intermediate arrays per row in a non-codegen
  * lambda. This expression is the same predicate as a fused primitive
  * loop inside whole-stage codegen: no allocation, early exit on the
  * first agreement.
  */
case class FirstEqIndex(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_first_eq expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val ya = b.asInstanceOf[ArrayData]
    val n = math.min(xa.numElements(), ya.numElements())
    var i = 0
    while (i < n) {
      if (xa.getLong(i) == ya.getLong(i)) return i + 1
      i += 1
    }
    0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i + 1; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstEqIndex = copy(newLeft, newRight)
}
