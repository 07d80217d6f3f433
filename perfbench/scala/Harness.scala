package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark client with one thread.
  *
  * Usage: `Harness --fixture DIR --scratch DIR --out FILE --spans FILE
  *   --launched EPOCH_S --seconds S --pass-s P --seed N --trace 0|1 KEY...`
  *
  * Times one cold pass over the keys, then `--seconds / --pass-s` warm
  * passes (`--pass-s` is the workload's usual warm-pass time; the first
  * `warmupPasses` are not measured, and at least two more are), then
  * writes every key's full output to `SCRATCH/check/KEY` off the clock
  * with `graft.Verify.runAll`, for the caller's DuckDB compare. The seed
  * only permutes key order within each pass. A query is timed as a user
  * pays for it: the constructor call plus a `noop` sink that computes
  * every row and column; `Checkpoints.free` runs after the clock stops.
  *
  * With `--trace 1`, the warm passes alternate untraced and traced. A
  * traced pass tags jobs `key#pass#phase`, drains the listener bus after
  * each query (off the clock) and records layer totals and spans. Raw
  * records go to `--out` as JSON; the caller derives the metrics. */
object Harness {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def epochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  private def gcS(): Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** CPU clock ticks (utime + stime) the JIT compiler threads have used,
    * from `/proc/self/task/<tid>/stat`. The caller starts the JVM with a
    * fixed set of compiler threads, so none exits between two readings. */
  private def jitTicks(): Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val stat = Files.readString(t.toPath.resolve("stat"))
        val close = stat.lastIndexOf(')')
        val name = stat.substring(stat.indexOf('(') + 1, close)
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) {
          // fields after the name start at field 3 (state); utime and
          // stime are fields 14 and 15
          val f = stat.substring(close + 2).split(' ')
          f(11).toLong + f(12).toLong
        } else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum

  /** Warm passes run before any is measured: from the first warm pass to
    * the second, wall and CPU time per pass still fall by a fifth to a
    * third while the JIT compiles the workload's code. (Leaving out a
    * second pass too left fewer passes to measure and spread the warm
    * metrics more from run to run, perfbench/NOTES.md.) */
  private val warmupPasses = 1

  /** Owning module of each key, named as in `graft.operators` and friends.
    * This repeats the module list that `graft.SparkEntry` keeps private;
    * `main` refuses a key that no module here owns, so a module added to
    * `SparkEntry` later must be added here too. */
  private val modules: Seq[(String, Map[String, graft.Q])] = Seq(
    "Scans" -> graft.operators.Scans.queries,
    "Projections" -> graft.operators.Projections.queries,
    "Joins" -> graft.operators.Joins.queries,
    "Aggregates" -> graft.operators.Aggregates.queries,
    "Windows" -> graft.operators.Windows.queries,
    "SetOps" -> graft.operators.SetOps.queries,
    "Graphs" -> graft.operators.Graphs.queries,
    "Scalars" -> graft.operators.Scalars.queries,
    "TextOps" -> graft.operators.TextOps.queries,
    "SimilarityOps" -> graft.operators.SimilarityOps.queries,
    "MultimodalOps" -> graft.operators.MultimodalOps.queries,
    "MlOps" -> graft.ml.MlOps.queries,
    "StreamOps" -> graft.streaming.StreamOps.queries)

  /** The session posture of `graft.Verify`, with scratch space pinned to
    * the run's own directory. */
  def confs(cores: Int, scratch: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.local.dir" -> s"$scratch/spark-local",
    "spark.sql.warehouse.dir" -> s"$scratch/warehouse")

  // the records `main` writes as JSON, field names as the caller reads them
  final case class Query(key: String, pass: Int, traced: Boolean, latency: Double,
      error: Option[String], layers: Map[String, Double], plan: Map[String, Int])
  final case class Pass(pass: Int, traced: Boolean, measured: Boolean, wall: Double,
      cpu: Double, gc: Double, jitTicks: Long)
  final case class Span(trace: String, name: String, start: Double, end: Double, parent: String)

  final class Client(spark: SparkSession, fixture: String, baseEpoch: Double, baseNano: Long) {
    private val sc = spark.sparkContext
    private val jobs = new JobListener
    private val plans = new PlanListener
    val spans = mutable.ArrayBuffer[Span]()

    private def at(nano: Long): Double = baseEpoch + (nano - baseNano) / 1e9

    def tracing(on: Boolean): Unit =
      if (on) { sc.addSparkListener(jobs); spark.listenerManager.register(plans) }
      else { sc.removeSparkListener(jobs); spark.listenerManager.unregister(plans) }

    def run(key: String, pass: Int, traced: Boolean): Query = {
      val before = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val gc0 = gcS()
      var df: DataFrame = null
      var err: Option[String] = None
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        if (traced) sc.setJobGroup(s"$key#$pass#construct", key)
        df = graft.SparkEntry.queries(key)(spark, fixture)
        t1 = System.nanoTime()
        if (traced) sc.setJobGroup(s"$key#$pass#action", key)
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          System.err.println(s"[perfbench] $key failed: ${err.get}")
      } finally if (traced) sc.clearJobGroup()
      val t2 = System.nanoTime()
      val gc = gcS() - gc0
      val pinned = if (traced) sc.getPersistentRDDs.keySet -- before else Set.empty[Int]
      val f0 = System.nanoTime()
      if (df != null) try graft.api.Checkpoints.free(df) catch { case _: Throwable => () }
      val f1 = System.nanoTime()
      val latency = (t2 - t0) / 1e9
      if (!traced) return Query(key, pass, traced, latency, err, Map.empty, Map.empty)

      BusDrain(sc)
      val (groups, jobSpans) = jobs.take()
      val qes = plans.take()
      val leaked = pinned.count(sc.getPersistentRDDs.contains)
      val actionStartMs = at(t1) * 1e3
      def phaseMs(qe: org.apache.spark.sql.execution.QueryExecution, name: String) =
        qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)
      val (actionQes, constructQes) = qes.partition { qe =>
        qe.tracker.phases.values.map(_.startTimeMs).minOption.exists(_ >= actionStartMs - 1)
      }
      // the returned frame was analyzed inside the constructor, not by any
      // execution the listener saw
      val ownAnalysis = if (df != null) phaseMs(df.queryExecution, "analysis") else 0L
      def phase(name: String) = (qes.map(phaseMs(_, name)).sum +
        (if (name == "analysis") ownAnalysis else 0L)) / 1e3
      val plan = actionQes.lastOption.map(qe => PlanShape.counts(qe.executedPlan))
        .getOrElse(PlanShape.names.map(_ -> 0).toMap)
      val none = new GroupTotals
      val c = groups.getOrElse(s"$key#$pass#construct", none)
      val a = groups.getOrElse(s"$key#$pass#action", none)
      val actionJobs = jobSpans.filter(_.group == s"$key#$pass#action")
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)).sortBy(_._1)
      var covered = 0.0
      var reach = Double.MinValue
      actionJobs.foreach { case (s, e) =>
        val lo = math.max(s, reach)
        if (e > lo) covered += e - lo
        reach = math.max(reach, e)
      }
      val actionWall = (t2 - t1) / 1e9

      val trace = s"$key#$pass"
      spans += Span(trace, "query", at(t0), at(t2), "")
      spans += Span(trace, "construct", at(t0), at(t1), "query")
      spans += Span(trace, "action", at(t1), at(t2), "query")
      spans += Span(trace, "free", at(f0), at(f1), "query")
      jobSpans.foreach { j =>
        spans += Span(trace, s"job${j.jobId}", j.startMs / 1e3, j.endMs / 1e3,
          j.group.split('#').lastOption.getOrElse(""))
      }
      (actionQes.map(_ -> "action") ++ constructQes.map(_ -> "construct")).foreach {
        case (qe, parent) =>
          qe.tracker.phases.foreach { case (name, p) =>
            spans += Span(trace, s"plan.$name", p.startTimeMs / 1e3, p.endTimeMs / 1e3, parent)
          }
      }

      val layers = Seq(
        "construct.wall_s" -> (t1 - t0) / 1e9,
        "construct.jobs" -> c.jobs.toDouble,
        "construct.task_cpu_s" -> c.cpuNs / 1e9,
        "checkpoints.pins" -> pinned.size.toDouble,
        "checkpoints.free_s" -> (f1 - f0) / 1e9,
        "checkpoints.leaked" -> leaked.toDouble,
        "writers.bytes" -> c.outBytes.toDouble,
        "writers.records" -> c.outRecords.toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "exec.wall_s" -> actionWall,
        "exec.jobs" -> a.jobs.toDouble,
        "exec.stages" -> a.stages.toDouble,
        "exec.tasks" -> a.tasks.toDouble,
        "exec.tasks_failed" -> a.tasksFailed.toDouble,
        "exec.task_cpu_s" -> a.cpuNs / 1e9,
        "exec.task_run_s" -> a.runMs / 1e3,
        "exec.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "exec.shuffle_read_bytes" -> a.shuffleRead.toDouble,
        "exec.spill_bytes" -> a.spill.toDouble,
        "exec.input_bytes" -> a.input.toDouble,
        "exec.peak_mem_bytes" -> a.peakMem.toDouble,
        "exec.driver_only_s" -> math.max(0.0, actionWall - covered / 1e3),
        "jvm.gc_s" -> gc).toMap
      Query(key, pass, traced, latency, err, layers, plan)
    }

    def pass(keys: Seq[String], pass: Int, traced: Boolean, out: mutable.Buffer[Query]): Pass = {
      val c0 = cpuS(); val g0 = gcS(); val j0 = jitTicks(); val t0 = System.nanoTime()
      keys.foreach { k =>
        val q = run(k, pass, traced)
        System.err.println(f"[perfbench] pass $pass%d ${if (traced) "traced " else ""}$k%s ${q.latency}%.3f s")
        out += q
      }
      Pass(pass, traced, pass > warmupPasses, (System.nanoTime() - t0) / 1e9, cpuS() - c0,
        gcS() - g0, jitTicks() - j0)
    }
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val (flags, keys) = {
      val opts = mutable.LinkedHashMap[String, String]()
      var rest = args.toList
      while (rest.headOption.exists(_.startsWith("--"))) {
        opts(rest.head.drop(2)) = rest(1); rest = rest.drop(2)
      }
      (opts.toMap, rest)
    }
    val launched = flags("launched").toDouble
    val scratch = flags("scratch")
    val fixture = flags("fixture")
    val owner = keys.map(k => k -> modules.find(_._2.contains(k)).map(_._1).getOrElse(""))
    val unowned = owner.collect { case (k, "") => k }
    require(unowned.isEmpty, s"no module in Harness.modules owns ${unowned.mkString(", ")}")
    val cores = Runtime.getRuntime.availableProcessors
    val posture = confs(cores, scratch)
    val builder = SparkSession.builder()
    posture.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traceMode = flags.getOrElse("trace", "0") == "1"
    val client = new Client(spark, fixture, epochS(), System.nanoTime())
    // the set-up share of tracing: attaching and detaching the listeners
    val i0 = System.nanoTime()
    if (traceMode) { client.tracing(true); client.tracing(false) }
    val installS = (System.nanoTime() - i0) / 1e9
    val setupS = epochS() - launched

    // a fixed number of passes rather than passes until --seconds ran out:
    // warm passes still get faster for several passes, so a run that
    // fitted more of them would read faster for that alone
    val warmPasses = math.max(warmupPasses + 2,
      (flags("seconds").toDouble / flags("pass-s").toDouble).toInt)
    val rng = new scala.util.Random(flags("seed").toLong)
    val queries = mutable.ArrayBuffer[Query]()
    val passes = mutable.ArrayBuffer[Pass]()
    passes += client.pass(rng.shuffle(keys), 0, traced = false, queries)
    for (p <- 1 to warmPasses) {
      val traced = traceMode && p > warmupPasses && (p - warmupPasses) % 2 == 0
      if (traced) client.tracing(true)
      passes += client.pass(rng.shuffle(keys), p, traced, queries)
      if (traced) client.tracing(false)
    }
    val rss = peakRssMb()
    val c0 = System.nanoTime()
    val checkErrors = graft.Verify.runAll(spark, fixture, s"$scratch/check",
      keys.map(k => k -> graft.SparkEntry.queries(k)))
    System.err.println(f"[perfbench] check pass ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val oracle = graft.SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traceMode) Files.writeString(Paths.get(flags("spans")), json.writeValueAsString(client.spans))
    Files.writeString(Paths.get(flags("out")), json.writeValueAsString(Map(
      "setup_s" -> setupS, "cores" -> cores, "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "tmpdir" -> sys.props("java.io.tmpdir"), "confs" -> posture.toMap,
      "rss_peak_mb" -> rss, "trace_install_s" -> installS,
      "passes" -> passes, "queries" -> queries, "check_errors" -> checkErrors,
      "module" -> owner.toMap, "oracle_sql" -> oracle, "no_oracle" -> keys.filterNot(oracle.contains))))
    spark.stop()
  }
}
