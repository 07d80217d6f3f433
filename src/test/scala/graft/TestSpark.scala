package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (SURVEY §5.3), in
  * the posture Verify and Bench run: tests plan with the same rewrites
  * and confs. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4)
  val sf0001 = "/root/testdata/sf0.001"

  /** Stock Spark on the suite's SparkContext: the same confs, without
    * GraftExtensions. Only for tests that compare a rewrite against the
    * plan or answer Spark gives without it. Clearing the default and
    * active session makes getOrCreate build a fresh session, and since
    * GraftSession attaches the extensions through the builder hook (not
    * the context's conf) this one gets none. It has its own SharedState,
    * so catalog tables and cached frames of `spark` are not visible. */
  lazy val stock: SparkSession = {
    val graftSession = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(graftSession)
      SparkSession.setActiveSession(graftSession)
    }
  }
}
