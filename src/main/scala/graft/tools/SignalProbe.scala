package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.api.Similarity
import org.apache.spark.sql.functions._

/** Dev-only: audits the [[Similarity.routedNprobe]] measured gate —
  * `runMain graft.tools.SignalProbe <dir> [dir...]` prints, per
  * corpus, the build-time calibration ladder's head, the routed
  * nprobe off the sim_knn_ivf base config (k=16 cells, base 4,
  * target 0.9), and the ACHIEVED recall@5 of the routed probe vs
  * brute-force truth on the declared queries — one `SIGNAL {...}`
  * JSON line per dir.
  *
  * History: the first cut of the gate was the geometric
  * intra-cell/inter-centroid angle ratio; THIS probe measured it
  * non-separating (0.71 on tight 64-cluster synthetics vs 0.85
  * near-isotropic under the k=16 codebook — tightness is the wrong
  * quantity when the codebook is coarser than the true clusters),
  * which is why the shipped gate calibrates neighbor-cell containment
  * instead ([[Similarity.probeRecallLadder]]'s scaladoc).
  */
object SignalProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SignalProbe <embeddingsDir> [dir...]")
    val spark = GraftSession(32)
    for (d <- args) {
      val e = Tables.embeddings(spark, d)
      val cents = Similarity.trainCodebook(e, "vec_id", "embedding", k = 16)
      val ladder = Similarity.probeRecallLadder(e, "vec_id", "embedding", cents)
      val routed = Similarity.routedNprobe(ladder, baseNprobe = 4)
      val truth = SparkEntry.queries("sim_knn_per_query")(spark, d)
        .select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallAt(np: Int): Double = {
        val got = Similarity.ivfKnn(e, "vec_id", "embedding",
            queryPred = col("vec_id") < 10, k = 5, centroids = cents,
            nprobe = np, simRound = Some(4))
          .select("qid", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        if (truth.isEmpty) Double.NaN
        else truth.count(got.contains).toDouble / truth.size
      }
      val head = ladder.take(8).map(v => f"$v%.3f").mkString("[", ",", "]")
      println(s"""SIGNAL {"dir":"$d","ladder_head":$head,""" +
        s""""routed_nprobe":$routed,""" +
        s""""recall_base4":${f"${recallAt(4)}%.4f"},""" +
        s""""recall_routed":${f"${recallAt(routed)}%.4f"}}""")
    }
    spark.stop()
  }
}
