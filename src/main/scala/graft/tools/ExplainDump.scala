package graft.tools
import graft.GraftSession

/** Dev-only: write `explain("formatted")` output for the given keys to
  * `<outDir>/<key>_<suffix>.txt` — the before/after plan evidence the
  * optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> key...
  * The session is GraftSession's (Bench's posture), so the dumped plan
  * is the plan the bench runs; the plans/rNN dumps were taken with
  * SPARK_GRAFT_CPUS=32. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, keys @ _*) = args: @unchecked
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${k}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      try graft.api.Checkpoints.free(df) catch { case _: Throwable => () }
      println(s"EXPLAIN $k -> $outDir/${k}_$suffix.txt")
    }
    spark.stop()
  }
}
