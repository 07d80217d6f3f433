package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for ColBERT-style late-interaction
  * MaxSim over float vectors viewed as `m` equal sub-vectors:
  * Σ_i max_j dot(a_i, b_j).
  *
  * Late interaction is the multi-vector retrieval family's scoring
  * kernel: a query matches a document when EACH query sub-vector finds
  * its best counterpart anywhere in the document, which single-vector
  * cosine (graft_cosine) cannot express — one dominant facet drowns
  * the rest. Same design rationale as [[CosineSim]]: whole-stage
  * codegen via `doGenCode`, no UDF boundary, arithmetic bit-identical
  * to [[Kernels.maxSimArr]] (dots in index order, maxes in j order,
  * outer sum in i order — one fixed op sequence, so a SQL twin
  * spelling `greatest(dot…)` chains computes the identical double).
  *
  * `m` arrives as the third (foldable int) argument of `graft_maxsim`
  * and is burned into the generated code as a constant.
  */
case class MaxSimScore(left: Expression, right: Expression, m: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (!ok) TypeCheckResult.TypeCheckFailure(
      s"graft_maxsim expects (array<float>, array<float>, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (m < 1) TypeCheckResult.TypeCheckFailure(
      s"graft_maxsim sub-vector count must be >= 1, got $m")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.maxSimArr(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray(), m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      val sub = ctx.freshName("sub"); val score = ctx.freshName("score")
      val best = ctx.freshName("best"); val dot = ctx.freshName("dot")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      s"""
         |float[] $xa = $a.toFloatArray();
         |float[] $ya = $b.toFloatArray();
         |if ($m > Math.min($xa.length, $ya.length)) {
         |  throw new IllegalArgumentException(
         |    "graft_maxsim: sub-vector count m=" + $m + " exceeds min vector length "
         |      + Math.min($xa.length, $ya.length) + " (sub-dim would truncate to 0)");
         |}
         |int $sub = Math.min($xa.length, $ya.length) / $m;
         |double $score = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  double $best = Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $m; $j++) {
         |    double $dot = 0.0;
         |    for (int $t = 0; $t < $sub; $t++) {
         |      $dot += (double) $xa[$i * $sub + $t] * (double) $ya[$j * $sub + $t];
         |    }
         |    if ($dot > $best) $best = $dot;
         |  }
         |  $score += $best;
         |}
         |${ev.value} = $score;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxSimScore =
    copy(newLeft, newRight, m)
}
