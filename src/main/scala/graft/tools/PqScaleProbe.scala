package graft.tools

import graft.api.Similarity
import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev-only (r18): IVF-PQ recall on a clustered corpus across
  * CONFIGURATIONS — `runMain graft.tools.PqScaleProbe <dir>` — the
  * declared key's fixture-sized params (coarse 16, ks 16, rerank 50)
  * vs production-sized ones (coarse ≥ true clusters, ks 256,
  * rerank 200), all through the same pqKnn/trainPqCodebooks path.
  * Truth = brute-force cosine top-5 (sim_knn_per_query's shape). */
object PqScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(32)
    val d = args(0)
    val e = graft.Tables.embeddings(spark, d)
    val truth = graft.SparkEntry.queries("sim_knn_per_query")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(coarseK: Int, ks: Int, nprobe: Int, rerank: Int): Double = {
      val coarse = Similarity.trainCodebook(e, "vec_id", "embedding", k = coarseK)
      val books = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
        m = 8, ks = ks, residualTo = Some(coarse))
      val got = Similarity.pqKnn(e, "vec_id", "embedding",
          queryPred = col("vec_id") < 10, k = 5,
          centroids = coarse, nprobe = nprobe, books = books, rerank = rerank,
          simRound = Some(4))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.count(got.contains).toDouble / truth.size
    }
    for ((ck, ks, np, rr) <- Seq((16, 16, 4, 50), (64, 64, 4, 100),
        (128, 256, 8, 200), (128, 256, 8, 800))) {
      val r = recallOf(ck, ks, np, rr)
      println(f"PQSCALE dir=$d coarse=$ck ks=$ks nprobe=$np rerank=$rr recall@5=$r%.4f")
    }
    spark.stop()
  }
}
