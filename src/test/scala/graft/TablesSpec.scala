package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The fixture loader's schema cache: a repeated load plans without a
  * Spark job, reads exactly what plain inference reads, and is inferred
  * again when the file changes. */
class TablesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The number of Spark jobs `body` starts, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (jobs.get, r)
    } finally sc.removeSparkListener(listener)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second load of each sf0.001 table runs no Spark job") {
    names.foreach { n =>
      Tables.byName(spark, sf, n)
      val (jobs, _) = jobsOf(Tables.byName(spark, sf, n))
      assert(jobs == 0, s"second load of $n ran $jobs job(s)")
    }
  }

  test("a cached load reads the schema and rows plain inference reads, with fresh attributes") {
    names.foreach { n =>
      val first = Tables.load(spark, sf, n)
      val second = Tables.load(spark, sf, n)
      val plain = spark.read.parquet(s"$sf/$n.parquet")
      assert(second.schema == plain.schema, s"$n: cached schema differs from inference")
      assert(sortedRows(second) == sortedRows(plain), s"$n: cached load reads other rows")
      val ids = first.queryExecution.analyzed.output.map(_.exprId).toSet
      assert(second.queryExecution.analyzed.output.forall(a => !ids(a.exprId)),
        s"$n: two loads share attribute ids")
    }
  }

  test("a file overwritten with another schema is inferred again") {
    val dir = Files.createTempDirectory("tables_cache")
    val target = dir.resolve("region.parquet")
    def copy(from: String): Unit =
      Files.copy(Paths.get(s"$sf/$from.parquet"), target, StandardCopyOption.REPLACE_EXISTING)
    copy("region")
    val (firstJobs, first) = jobsOf(Tables.region(spark, dir.toString))
    assert(firstJobs >= 1, "the first load of a new file should infer its schema")
    assert(jobsOf(Tables.region(spark, dir.toString))._1 == 0)
    assert(first.schema == spark.read.parquet(s"$sf/region.parquet").schema)
    copy("nation")
    val (againJobs, again) = jobsOf(Tables.region(spark, dir.toString))
    assert(againJobs >= 1, "a rewritten file should be inferred again")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    assert(again.schema == nation.schema)
    assert(sortedRows(again) == sortedRows(nation))
    assert(jobsOf(Tables.region(spark, dir.toString))._1 == 0)
  }
}
