package graft

import org.apache.spark.sql.SparkSession

/** The one session posture of the engine. Verify, Bench, every
  * `graft.tools` main and the test suite build their session here, so a
  * key cannot answer or plan differently depending on which entry point
  * built its session: `local[cores]`, the [[confs]] below,
  * [[GraftExtensions]] (native functions, TokenCount and TopKPerGroup
  * rewrites) and WARN logging.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else 4 — the only place the variable is read. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  private[graft] def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // answers must not follow the host's zone
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // runtime row-level bloom filters thin the fact side of a shuffle
    // join BEFORE its exchange when the other side is selective. A no-op
    // at fixture scale (the application-side 10 GB scan threshold gates
    // it), but the right posture at 100 TB; ScaleProbeSpec pins the
    // injection with the threshold lowered
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // broadcast/shuffle cleanup is GC-driven (ContextCleaner); on a large
    // heap a long key sequence accumulates dead broadcasts for minutes
    // and later keys pay the memory pressure
    "spark.cleaner.periodicGC.interval" -> "30s")

  def apply(cores: Int = defaultCores): SparkSession = {
    val builder = confs(cores).foldLeft(
      SparkSession.builder().master(s"local[$cores]")) { case (b, (k, v)) => b.config(k, v) }
    // the builder hook rather than the static `spark.sql.extensions`
    // conf: the extensions then stay off the SparkContext's conf, so a
    // stock reference session can share the context (TestSpark.stock)
    val spark = builder.withExtensions(new GraftExtensions()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
