package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial property tests for the TopKRewrite guard: shapes that
  * LOOK like the top-k idiom but whose semantics the bounded-heap
  * operator does not implement must keep the stock Window plan AND
  * produce results identical to a session without the extension — so
  * the custom-plan path stays safe as user queries and Spark's own
  * bindings evolve. Plus the conf escape hatch (maxK) that bounds the
  * exec's groups·k in-memory footprint. */
class TopKRewriteSpec extends AnyFunSuite {
  private val sf = TestSpark.sf0001

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Build the query on stock Spark (no extension) and in the suite's
    * extension session; assert the rewrite did NOT fire and the rows
    * match exactly. */
  private def assertNoFireAndParity(build: SparkSession => DataFrame): Unit = {
    val expected = build(TestSpark.stock).collect().map(_.toString).sorted.toSeq
    val df = build(TestSpark.spark)
    val p = plan(df)
    assert(!p.contains("TopKPerGroup"), s"rewrite fired on an unsafe shape:\n$p")
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(got == expected, "extension session changed the result")
  }

  private def w = Window.partitionBy("o_custkey")
    .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  test("rank() instead of row_number() keeps the stock Window") {
    assertNoFireAndParity { s =>
      Tables.orders(s, sf).withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    }
  }

  test("a strict < bound keeps the stock Window") {
    assertNoFireAndParity { s =>
      Tables.orders(s, sf).withColumn("rn", row_number().over(w)).filter(col("rn") < 4)
    }
  }

  test("a second window expression keeps the stock Window") {
    assertNoFireAndParity { s =>
      Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .filter(col("rn") <= 3)
    }
  }

  test("a non-literal bound keeps the stock Window") {
    assertNoFireAndParity { s =>
      Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= pmod(col("o_custkey"), lit(5)) + 1)
    }
  }

  test("filtering a NON-window attribute against a literal keeps the stock Window") {
    assertNoFireAndParity { s =>
      Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w))
        .filter(col("o_custkey") <= 3)
    }
  }

  test("k above spark.graft.topk.maxK keeps the stock Window (memory guard)") {
    val s = TestSpark.spark
    s.conf.set("spark.graft.topk.maxK", "2")
    try {
      val df = Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      assert(!plan(df).contains("TopKPerGroup"),
        "rewrite fired above the configured maxK")
    } finally s.conf.unset("spark.graft.topk.maxK")
    // and back under the cap it fires again
    val df2 = Tables.orders(s, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(plan(df2).contains("TopKPerGroup"))
  }

  test("an over-Int maxK cannot make a long bound wrap into a tiny int k") {
    val s = TestSpark.spark
    s.conf.set("spark.graft.topk.maxK", "10000000000") // > Int.MaxValue
    try {
      val df = Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3000000000L) // would wrap negative as an Int
      assert(!plan(df).contains("TopKPerGroup"),
        "rewrite fired with a bound beyond Int range")
      // semantics: every row survives a bound larger than any group
      assert(df.count() == Tables.orders(s, sf).count())
    } finally s.conf.unset("spark.graft.topk.maxK")
  }

  test("spark.graft.topk.maxK=0 disables the rewrite entirely") {
    val s = TestSpark.spark
    s.conf.set("spark.graft.topk.maxK", "0")
    try {
      val df = Tables.orders(s, sf)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      assert(!plan(df).contains("TopKPerGroup"), "rewrite fired while disabled")
    } finally s.conf.unset("spark.graft.topk.maxK")
  }
}
