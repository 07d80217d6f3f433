package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only: the per-round ANN/MinHash QUALITY measurement —
  * `runMain graft.tools.RecallProbe <sfDir>` runs every approximate
  * retrieval key against its exact truth key at that scale and prints
  * one `RECALL {...}` JSON line (consumed into RECALL_r{N}.json).
  *
  * Promotes the NoOracleSpec recall assertions (which gate at sf0.001)
  * to an auditable per-round number at the driver's bench scale — the
  * r16 VERDICT ask #5. Truth definitions mirror NoOracleSpec exactly:
  *
  *  - kNN family: truth = `sim_knn_per_query` (brute-force cosine
  *    top-5); recall@5 = |approx ∩ truth| / |truth| over
  *    (qid, cid) pairs, for each of ivf / ivf_persisted /
  *    ivf_probe_only / ivfpq / rplsh / pca.
  *  - MinHash full-corpus: truth = `dedup_near_jaccard` (exact PPJoin
  *    at 0.8); recall over (id1, id2), reported NEXT TO the banding
  *    formula's expected mean 1-(1-j^rows)^bands at (16, 8) — the
  *    number recall is supposed to meet, not a hand-waved constant.
  *  - MinHash incremental: truth = `dedup_incremental` (exact
  *    batch-vs-corpus); approx = incremental_minhash and its
  *    persisted / probe_only index twins.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // "knn-only": skip the MinHash families (for corpora that carry
    // only an embeddings table, e.g. the ClusteredGen synthetic)
    val knnOnly = args.length > 1 && args(1) == "knn-only"
    val spark = GraftSession(32)

    def pairs(key: String): Set[(Long, Long)] =
      SparkEntry.queries(key)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairsWithScore(key: String): Seq[((Long, Long), Double)] =
      SparkEntry.queries(key)(spark, sfDir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSeq
    def recall(truth: Set[(Long, Long)], approx: Set[(Long, Long)]): Double =
      if (truth.isEmpty) Double.NaN
      else truth.count(approx.contains).toDouble / truth.size

    val out = new StringBuilder
    def emit(name: String, fields: (String, Any)*): Unit = {
      if (out.nonEmpty) out.append(",")
      out.append("\"").append(name).append("\":{")
      out.append(fields.map {
        // NaN (empty truth set) must emit as JSON null, not a bare NaN
        // token that breaks every strict parser of the RECALL line
        case (k, v: Double) if v.isNaN => "\"" + k + "\":null"
        case (k, v: Double) => "\"" + k + "\":" + f"$v%.4f"
        case (k, v) => "\"" + k + "\":" + v
      }.mkString(","))
      out.append("}")
    }

    val knnTruth = pairs("sim_knn_per_query")
    for (key <- Seq("sim_knn_ivf", "sim_knn_ivf_routed",
        "sim_knn_ivf_persisted",
        "sim_knn_ivf_probe_only", "sim_knn_ivfpq", "sim_knn_ivfpq_hq",
        "sim_knn_ivf_upsert", "sim_knn_rplsh",
        "sim_knn_pca")) {
      val got = pairs(key)
      emit(key, "recall_at_5" -> recall(knnTruth, got),
        "truth_pairs" -> knnTruth.size, "emitted" -> got.size)
    }

    val (bands, rows) = (16, 8)
    def pCollide(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, rows), bands)
    def minhashFamily(truthKey: String, approxKeys: Seq[String]): Unit = {
      val truth = pairsWithScore(truthKey)
      val expected =
        if (truth.isEmpty) Double.NaN
        else truth.map { case (_, j) => pCollide(j) }.sum / truth.size
      approxKeys.foreach { key =>
        val got = pairs(key)
        emit(key, "recall" -> recall(truth.map(_._1).toSet, got),
          "banding_expected" -> expected,
          "truth_pairs" -> truth.size, "emitted" -> got.size)
      }
    }
    if (!knnOnly) {
      minhashFamily("dedup_near_jaccard", Seq("dedup_minhash_lsh"))
      minhashFamily("dedup_incremental", Seq("dedup_incremental_minhash",
        "dedup_minhash_persisted", "dedup_minhash_probe_only"))
    }

    println(s"""RECALL {"sf_dir":"$sfDir",$out}""")
    spark.stop()
  }
}
