package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions wiring: functions resolvable without manual
  * registration, and the size(split) → TokenCount rewrite firing. The
  * suite session carries the extensions; answers are compared against
  * TestSpark.stock, which does not. */
class ExtensionsSpec extends AnyFunSuite {

  test("graft functions are registered by the extension (SQL text, no register call)") {
    val s = TestSpark.spark
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    bloom.putLong(7L)
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val bloomHex = bytes.toByteArray.map(b => f"${b & 0xff}%02X").mkString
    val r = s.sql(
      s"""SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
         |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
         |       graft_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
         |       graft_token_count('a b  c ') AS t,
         |       graft_containment(array(1L, 2L, 3L, 4L), array(2L, 3L)) AS ct,
         |       graft_maxsim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
         |                          CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
         |                    array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT),
         |                          CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), 2) AS ms,
         |       graft_min_common(array(1L, 3L, 5L), array(2L, 3L, 5L)) AS mc,
         |       graft_first_eq(array(1L, 2L, 3L), array(0L, 2L, 3L)) AS fe,
         |       graft_bloom_probe(7L, X'$bloomHex') AS bp""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.5)
    assert(r.getInt(2) == 5) // 'a','b','','c','' — java split keep-trailing
    assert(r.getDouble(3) == 0.5)
    assert(r.getDouble(4) == 2.0) // each facet finds its swapped twin
    assert(r.getLong(5) == 3L)
    assert(r.getInt(6) == 2)
    assert(r.getBoolean(7))
  }

  test("a graft function called with the wrong argument count names itself and its arity") {
    val err = intercept[Exception] {
      TestSpark.spark.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)))").collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toList
    assert(msgs.exists(m => m.contains("graft_cosine") && m.contains("expects 2 argument")),
      s"unhelpful arity error: $msgs")
  }

  test("filter(row_number <= k) plans as TopKPerGroupExec and matches the window result") {
    val s = TestSpark.spark
    val q = SparkEntry.queries("window_topk_per_group")
    val df = q(s, TestSpark.sf0001)
    val physical = df.queryExecution.executedPlan.toString
    // the exec node prints without its Exec suffix; assert it replaced
    // the Window (no Window/Sort-on-group below the final orderBy)
    assert(physical.contains("TopKPerGroup"),
      s"top-k rewrite did not reach the physical plan:\n$physical")
    assert(!physical.contains("Window ["),
      s"stock Window still present:\n$physical")
    val got = df.collect().map(_.toString).toSeq
    // the reference is the stock Window plan, so it needs stock Spark
    val stock = q(TestSpark.stock, TestSpark.sf0001)
    val stockPlan = stock.queryExecution.executedPlan.toString
    assert(!stockPlan.contains("TopKPerGroup") && stockPlan.contains("Window"),
      s"stock session planned the rewrite:\n$stockPlan")
    assert(got == stock.collect().map(_.toString).toSeq)
  }

  test("row_number == 1 (not <=) keeps the stock Window plan") {
    val s = TestSpark.spark
    val physical = SparkEntry.queries("text_lang_id")(s, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("TopKPerGroup"))
    assert(physical.contains("Window"))
  }

  test("size(split(text, ' ')) is rewritten to TokenCount and agrees with the built-in") {
    val s = TestSpark.spark
    val docs = Tables.documents(s, TestSpark.sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val optimized = docs.queryExecution.optimizedPlan.toString
    assert(optimized.contains("tokencount") || optimized.contains("TokenCount"),
      s"rewrite did not fire:\n$optimized")
    // value parity vs the un-rewritten built-in on stock Spark
    val expected = Tables.documents(TestSpark.stock, TestSpark.sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = docs.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }
}
