package graft.tools

import graft.api.{Checkpoints, Dedup}
import graft.{GraftSession, Tables}

/** Dev-only: DEDICATED pair bench for the containment posture twins —
  * the trap-11 method that adjudicated the jaccard twins: both
  * postures timed in ONE fresh JVM — one DISCARDED warmup cycle, then
  * 4 alternating timed cycles per posture (min reported), no
  * co-tenant keys. `runMain graft.tools.ContainmentPairBench <dir>...`
  * prints per-posture seconds, output pairs, and the executed-plan
  * operator summary. */
object ContainmentPairBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(32)
    for (d <- args) {
      def run(bc: Boolean): (Double, Long, String) = {
        val t0 = System.nanoTime()
        val pairs = Dedup.containmentPairs(Tables.documents(spark, d),
          "doc_id", "text", 0.9, Some("lang"), broadcastJoins = bc)
        val cnt = pairs.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = graft.Bench.planSummary(pairs.queryExecution.executedPlan.toString)
        Checkpoints.free(pairs)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        (sec, cnt, plan)
      }
      // one DISCARDED warmup cycle (JVM/codegen/page-cache warm
      // monotonically through the first runs, which biases whichever
      // posture lands the later slots), then alternate postures so
      // neither always enjoys the warmer JVM
      run(true); run(false)
      val runs = Seq.fill(4)(Seq(true, false)).flatten.map(bc => bc -> run(bc))
      for (bc <- Seq(true, false)) {
        val rs = runs.filter(_._1 == bc).map(_._2)
        val best = rs.map(_._1).min
        println(f"CPB dir=$d posture=${if (bc) "broadcast" else "shuffle"}%-9s " +
          f"min=$best%7.2f s runs=${rs.map(r => f"${r._1}%.2f").mkString(",")} " +
          s"pairs=${rs.head._2} plan=${rs.head._3}")
      }
    }
    spark.stop()
  }
}
