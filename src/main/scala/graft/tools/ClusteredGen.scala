package graft.tools

import graft.GraftSession

/** Dev-only: write ScaleProbeSpec's 100k CLUSTERED vector corpus
  * (64 true cells × 1600 members, 64 dims, noise 0.04, near-dup pairs
  * planted every 50 ids) as an `embeddings.parquet` table —
  * `runMain graft.tools.ClusteredGen <outDir> [noise]` — so the
  * declared ANN keys (and RecallProbe in `knn-only` mode) can run on a
  * corpus WITH cluster signal. The driver fixture is near-isotropic —
  * ANN's documented worst case (RECALL_r17.json) — so this synthetic
  * supplies the regime a production embedding corpus actually lives
  * in: the recall a real user would see. The generator RECIPE (seeded
  * java.util.Random per centroid / member id, noise draw, near-dup
  * planting; deterministic, no timestamps) is shared with
  * ScaleProbeSpec.clusteredCorpus100k, but the GEOMETRY differs to fit
  * the declared keys' schema: this tool writes 64-dim vectors plus a
  * `label` column, the spec corpus is 16-dim and label-less — so the
  * spec's in-memory recall/cell-admission numbers do NOT transfer to
  * (or reproduce from) this fixture; compare only artifacts measured
  * on the same dump.
  */
object ClusteredGen {
  /** The corpus rows (id, 64-dim normalized vector, label) for a given
    * cluster noise, driver-side — factored out (r19) so NoOracleSpec's
    * `sim_knn_ivfpq_hq` recall floor measures the SAME corpus the
    * committed RECALL artifacts report (clustered100k_tight = 0.04,
    * clustered100k_loose = 0.15), instead of a divergeable copy of the
    * recipe. Deterministic: seeded java.util.Random per centroid /
    * member id, near-dup planting every 50 ids. */
  private[graft] def corpus(noise: Double): Array[(Long, Array[Float], Int)] = {
    val (cells, per, dims) = (64, 1600, 64)
    def normalize(v: Array[Float]): Array[Float] = {
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val cents = Array.tabulate(cells) { k =>
      val r = new java.util.Random(900000L + k)
      normalize(Array.fill(dims)(r.nextGaussian().toFloat))
    }
    def member(id: Long, base: Array[Float], n: Double): Array[Float] = {
      val r = new java.util.Random(id * 2654435761L + 17)
      normalize(Array.tabulate(dims)(i => (base(i) + n * r.nextGaussian()).toFloat))
    }
    val n = cells * per
    val vecs = new Array[(Long, Array[Float], Int)](n)
    var id = 0L
    while (id < n) {
      val c = (id / per).toInt
      val v =
        if (id % 50 == 1) member(id, vecs((id - 1).toInt)._2, 0.002)
        else member(id, cents(c), noise)
      vecs(id.toInt) = (id, v, c % 10)
      id += 1
    }
    vecs
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val noise = if (args.length > 1) args(1).toDouble else 0.04
    val vecs = corpus(noise)
    val (cells, n) = (64, vecs.length)
    val spark = GraftSession(32)
    import spark.implicits._
    spark.sparkContext.parallelize(vecs.toIndexedSeq, 32)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"CLUSTEREDGEN $outDir rows=$n cells=$cells noise=$noise")
    spark.stop()
  }
}
