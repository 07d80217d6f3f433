package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for DIRECTED set containment
  * C(A→B) = |A∩B| / |A| over SORTED DISTINCT long-hash arrays (the
  * shingle representation produced by Kernels.tokenHashes).
  *
  * The asymmetric complement of [[JaccardSim]]: quoted-inclusion /
  * superset near-dups (a short doc wholly embedded in a long one)
  * score near 1 here while symmetric Jaccard dilutes them by the long
  * doc's size. Same execution posture as JaccardSim — the verify of a
  * candidate stream, so it runs inside whole-stage codegen as a
  * primitive two-pointer merge, no UDF boundary, no boxing.
  * C(∅→·) = 1 by convention (the empty set is contained in anything);
  * callers exclude empty docs upstream exactly like the Jaccard path.
  */
case class ContainmentSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_containment expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData].toLongArray()
    val ya = b.asInstanceOf[ArrayData].toLongArray()
    if (xa.length == 0) 1.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < xa.length && j < ya.length) {
        if (xa(i) == ya(j)) { inter += 1; i += 1; j += 1 }
        else if (xa(i) < ya(j)) i += 1
        else j += 1
      }
      inter.toDouble / xa.length.toDouble
    }
  }

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
         |${ev.value} = ($xa.length == 0) ? 1.0
         |  : (double) $inter / (double) $xa.length;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainmentSim = copy(newLeft, newRight)
}
