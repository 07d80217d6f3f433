package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over every task of one job group (`key#pass#phase`). */
final class GroupTotals {
  var jobs, stages, tasks, tasksFailed = 0
  var cpuNs, runMs, shuffleWrite, shuffleRead, spill, input = 0L
  var outBytes, outRecords, peakMem = 0L
}

final case class JobSpan(group: String, jobId: Int, startMs: Long, var endMs: Long)

/** Scheduler-side layer recorder: jobs, stages and tasks, keyed by the job
  * group the harness sets around each phase of a query. Events arrive on
  * the listener-bus thread; the harness reads them after `BusDrain`. */
final class JobListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val groups = mutable.HashMap[String, GroupTotals]()
  private val jobs = mutable.LinkedHashMap[Int, JobSpan]()

  private def totals(g: String) = groups.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobs(e.jobId) = JobSpan(g, e.jobId, e.time, e.time)
    totals(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (e.reason != Success) t.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.outRecords += m.outputMetrics.recordsWritten
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
    }
  }

  /** Everything recorded since the last call, then forget it. */
  def take(): (Map[String, GroupTotals], Seq[JobSpan]) = synchronized {
    val r = (groups.toMap, jobs.values.toList)
    groups.clear(); jobs.clear(); stageGroup.clear()
    r
  }
}

/** Catalyst-side layer recorder: every executed QueryExecution, so the
  * harness can read its phase tracker and its AQE-final physical plan. */
final class PlanListener extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { seen += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { seen += qe }
  def take(): Seq[QueryExecution] = synchronized { val r = seen.toList; seen.clear(); r }
}

/** Operator counts of an executed plan, read through adaptive wrappers and
  * query stages so the counts are those of the AQE-final plan. */
object PlanShape {
  val names = Seq("shuffle_exchanges", "broadcast_exchanges", "sort_merge_joins",
    "nested_loop_joins", "topk_per_group")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Map[String, Int] = {
    val ns = nodes(p)
    names.zip(Seq(
      ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      ns.count(_.isInstanceOf[SortMergeJoinExec]),
      ns.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]),
      ns.count(_.getClass.getSimpleName.startsWith("TopKPerGroup")))).toMap
  }
}
