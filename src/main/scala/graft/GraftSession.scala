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
    quietUnpersistNotice
    spark
  }

  /** Denies, once per JVM, the WARN Spark logs each time a locally
    * checkpointed RDD is unpersisted. `Checkpoints.free` does that for
    * every freed local pin, by design, so the notice carries no signal
    * (it was most of a bench's stderr). The filter sits on the whole
    * log4j configuration of Spark's logger context and matches the
    * message, not the logger (that is the RDD's class), so every other
    * WARN still logs. log4j asks a context-wide filter before the logger
    * level, i.e. on every logging call, disabled DEBUG ones included; it
    * matches the raw message (`useRawMsg`) so no call's parameters are
    * formatted for it. Spark hands slf4j the finished string, so the
    * raw message is the notice itself. */
  private lazy val quietUnpersistNotice: Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.filter.RegexFilter
    LogManager.getContext(classOf[org.apache.spark.rdd.RDD[_]].getClassLoader, false) match {
      case ctx: LoggerContext =>
        ctx.getConfiguration.addFilter(RegexFilter.createFilter(
          "RDD \\d+ was locally checkpointed, its lineage has been truncated.*",
          null, true, Filter.Result.DENY, Filter.Result.NEUTRAL))
        ctx.updateLoggers()
      case _ => // not log4j2 core: nothing to filter
    }
  }
}
