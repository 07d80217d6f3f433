package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * FAILS LOUDLY: every key still runs (partial results are more useful
  * than none), but any key that throws is recorded in
  * `outDir/errors.json` (key → exception message) and the process exits
  * nonzero — the r11 drift lesson (38 events keys died silently under
  * rc:0). HarnessSpec pins the contract by injecting a broken key. */
object Verify {
  /** Nonzero iff any key errored — the exit policy of Verify and Bench. */
  private[graft] def exitCode(errors: Map[String, String]): Int =
    if (errors.isEmpty) 0 else 1

  /** Run every query, write each result to `outDir/<name>`, return the
    * error map (key → message). Factored out of main so HarnessSpec can
    * inject a broken key and assert it surfaces. */
  private[graft] def runAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      var df: org.apache.spark.sql.DataFrame = null
      try {
        df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally {
        // release any eager localCheckpoint blocks the constructor
        // pinned (Checkpoints retention contract) even on failure —
        // a leaked block stays resident for the rest of the
        // 130+-query sequence
        if (df != null)
          try graft.api.Checkpoints.free(df) catch { case _: Throwable => () }
      }
    }
    errors.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // Bench escapes its error messages with the same function.
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these keys (dev loop; driver passes none)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val errors = runAll(spark, sfDir, outDir,
      SparkEntry.queries.filter(qr => only.isEmpty || only(qr._1)))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, m) => s"${jstr(k)}: ${jstr(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${errors.size} key(s) errored: " +
        errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(exitCode(errors))
    }
  }
}
