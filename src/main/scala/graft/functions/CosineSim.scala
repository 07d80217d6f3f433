package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over float arrays.
  *
  * One step up from the compiled UDF (SURVEY §4.3 preference order):
  * participates in whole-stage codegen via `doGenCode`, so the pair
  * loop runs inside the generated operator with no UDF boundary, no
  * Row boxing, and no Seq wrapper per row. The arithmetic is the same
  * double accumulation as Kernels.cosineArr — values are bit-identical
  * to the UDF path, so oracle parity is unaffected.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosineArr(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val den = ctx.freshName("den")
      s"""
         |float[] $xa = $a.toFloatArray();
         |float[] $ya = $b.toFloatArray();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = Math.min($xa.length, $ya.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $xa[$i]; double $yv = $ya[$i];
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $den = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = $den == 0.0 ? 0.0 : $dot / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim = copy(newLeft, newRight)
}
