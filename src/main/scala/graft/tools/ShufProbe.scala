package graft.tools

import graft.api.{Checkpoints, Dedup}
import graft.{GraftSession, Tables}

/** Dev-only probe: where does the shuffle-posture PPJoin spend its
  * time vs the broadcast twin — candidate stage vs full pipeline,
  * per posture. */
object ShufProbe {
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
        val c = Dedup.jaccardCandidatePairs(docs, "doc_id", "text", 0.8,
          Some("lang"), broadcastJoins = true)
        val n = c.count(); Checkpoints.free(c); n
      }
      t("cand_shuffle") {
        val c = Dedup.jaccardCandidatePairs(docs, "doc_id", "text", 0.8,
          Some("lang"), broadcastJoins = false)
        val n = c.count(); Checkpoints.free(c); n
      }
      t("full_broadcast") {
        val c = Dedup.nearJaccardPairs(docs, "doc_id", "text", 0.8, Some("lang"))
        val n = c.count(); Checkpoints.free(c); n
      }
      t("full_shuffle") {
        val c = Dedup.nearJaccardPairs(docs, "doc_id", "text", 0.8,
          Some("lang"), broadcastJoins = false)
        val n = c.count(); Checkpoints.free(c); n
      }
    }
    spark.stop()
  }
}
