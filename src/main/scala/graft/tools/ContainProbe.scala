package graft.tools

import graft.api.{Checkpoints, Dedup}
import graft.{GraftSession, Tables}

/** Dev-only probe (r22): where does the shuffle-posture containment
  * join spend its time — candidate stage (chunked prefix ⋈ postings +
  * distinct) vs the full pipeline (+ verify joins) — per posture.
  * Same decomposition ShufProbe gives the jaccard twins. */
object ContainProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(32)
    spark.range(1000).selectExpr("sum(id)").collect()
    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$r")
    }
    val docs = Tables.documents(spark, d)
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      t("cand_broadcast") {
        val c = Dedup.containmentCandidatePairs(docs, "doc_id", "text", 0.9,
          Some("lang"), broadcastJoins = true)
        val n = c.count(); Checkpoints.free(c); n
      }
      t("cand_shuffle") {
        val c = Dedup.containmentCandidatePairs(docs, "doc_id", "text", 0.9,
          Some("lang"), broadcastJoins = false)
        val n = c.count(); Checkpoints.free(c); n
      }
      t("full_broadcast") {
        val c = Dedup.containmentPairs(docs, "doc_id", "text", 0.9, Some("lang"))
        val n = c.count(); Checkpoints.free(c); n
      }
      t("full_shuffle") {
        val c = Dedup.containmentPairs(docs, "doc_id", "text", 0.9,
          Some("lang"), broadcastJoins = false)
        val n = c.count(); Checkpoints.free(c); n
      }
    }
    spark.stop()
  }
}
