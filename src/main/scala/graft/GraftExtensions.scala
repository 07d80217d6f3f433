package graft

import graft.functions.{BloomMightContain, ContainmentSim, CosineSim, FirstEqIndex,
  JaccardSim, MaxSimScore, MinCommonLong, TokenCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Session-extension wiring for the engine's native expressions —
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions`) makes every session see:
  *
  *  - the eight native functions `graft_cosine`, `graft_jaccard`,
  *    `graft_containment`, `graft_maxsim`, `graft_min_common`,
  *    `graft_first_eq`, `graft_bloom_probe` and `graft_token_count`,
  *    reachable from SQL text and `call_function`. This is the only
  *    place a `graft_*` name is bound to an expression (HarnessSpec
  *    guards it);
  *  - the [[TokenCountRewrite]] optimizer rule, which turns
  *    `size(split(text, ' '))` — an array materialization per row just
  *    to read its length — into the single-pass byte-count
  *    [[graft.functions.TokenCount]] expression.
  *
  * This is the (c)-tier extension point of the build contract: custom
  * Catalyst expressions + a `Rule[LogicalPlan]` registered through
  * `SparkSessionExtensions`, used by Bench/Verify sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** A function entry whose builder sees exactly `arity` arguments; any
    * other count fails naming the function and the count it expects. */
  private def fn(name: String, clazz: Class[_], arity: Int)(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name expects $arity argument(s), got ${exprs.length}")
        builder(exprs)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_cosine", classOf[CosineSim], 2)(
      exprs => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_jaccard", classOf[JaccardSim], 2)(
      exprs => JaccardSim(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_containment", classOf[ContainmentSim], 2)(
      exprs => ContainmentSim(exprs(0), exprs(1))))
    // the sub-vector count is a plan-time constant, burned into codegen
    ext.injectFunction(fn("graft_maxsim", classOf[MaxSimScore], 3) { exprs =>
      val m = exprs(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"graft_maxsim sub-vector count must be an int literal, got $other")
      }
      MaxSimScore(exprs(0), exprs(1), m)
    })
    ext.injectFunction(fn("graft_min_common", classOf[MinCommonLong], 2)(
      exprs => MinCommonLong(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_token_count", classOf[TokenCount], 1)(
      exprs => TokenCount(exprs.head)))
    ext.injectFunction(fn("graft_first_eq", classOf[FirstEqIndex], 2)(
      exprs => FirstEqIndex(exprs(0), exprs(1))))
    ext.injectFunction(fn("graft_bloom_probe", classOf[BloomMightContain], 2)(
      exprs => BloomMightContain(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => TokenCountRewrite)
    // whole-operator extension: filter(row_number() <= k) over a window
    // becomes the bounded-heap TopKPerGroupExec (no per-partition sort)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

/** `size(split(text, ' ', -1))` ⇒ `TokenCount(text)` — same value
  * (tokens = 0x20 bytes + 1 under Java split-keep-trailing semantics),
  * no per-row array. Only fires on the exact single-space literal
  * pattern; any other separator keeps the built-in path. */
object TokenCountRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(StringSplit(str, Literal(sep: UTF8String, StringType),
          Literal(-1, IntegerType)), _) if sep.toString == " " =>
        TokenCount(str)
    }
}
