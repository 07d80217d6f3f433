package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is organized as operator modules (graft.operators.*,
  * graft.streaming.*, graft.ml.*), each exposing `queries` (the Spark
  * implementation) and `oracles` (the DuckDB-equivalent SQL the driver
  * hash-compares against). This object is just the union.
  */
object SparkEntry {
  private val modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (operators.Scans.queries, operators.Scans.oracles),
    (operators.Projections.queries, operators.Projections.oracles),
    (operators.Joins.queries, operators.Joins.oracles),
    (operators.Aggregates.queries, operators.Aggregates.oracles),
    (operators.Windows.queries, operators.Windows.oracles),
    (operators.SetOps.queries, operators.SetOps.oracles),
    (operators.Graphs.queries, operators.Graphs.oracles),
    (operators.Scalars.queries, operators.Scalars.oracles),
    (operators.TextOps.queries, operators.TextOps.oracles),
    (operators.SimilarityOps.queries, operators.SimilarityOps.oracles),
    (operators.MultimodalOps.queries, operators.MultimodalOps.oracles),
    (ml.MlOps.queries, ml.MlOps.oracles),
    (streaming.StreamOps.queries, streaming.StreamOps.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby_q1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each runs in
    * its own `Checkpoints.scope`: a key's pins are freed when it
    * returns, except those its result reads, which the caller's
    * `Checkpoints.free(result)` releases. */
  def queries: Map[String, Q] =
    modules.map(_._1).reduce(_ ++ _).map { case (key, q) =>
      key -> ((s: SparkSession, d: String) => api.Checkpoints.scope(q(s, d)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (SURVEY §2's ✘ rows) get the
    * driver's weaker rows-only check and are unit-tested instead. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)

  /** The declared no-oracle keys (SURVEY §2's ✘ rows): results are
    * probabilistic / stateful / environment-stubbed, so no DuckDB SQL
    * twin exists; each is covered by a unit test instead (NoOracleSpec,
    * StreamingParitySpec). ContractSpec asserts this is EXACTLY
    * `queries.keySet -- oracleSql.keySet`, so adding an operator
    * without either an oracle or a declaration here fails the build. */
  val noOracleKeys: Set[String] = Set(
    "agg_approx_distinct", "agg_distinct_sketch_rollup",
    "agg_percentile_approx", "dedup_minhash_lsh",
    "dedup_incremental_minhash", "dedup_minhash_persisted",
    "dedup_minhash_probe_only", "dedup_simhash",
    "stream_watermark_late", "ml_train_logreg_gd", "ml_train_mlp_gd",
    "ml_infer_mlp_gemm", "text_bpe_train_iter",
    "sim_knn_ivf", "sim_knn_ivf_routed",
    "sim_knn_ivf_persisted", "sim_knn_ivf_probe_only", "sim_knn_ivfpq",
    "sim_knn_ivfpq_hq", "sim_knn_ivf_upsert",
    "sim_knn_rplsh", "embed_pca_project", "sim_knn_pca")
}
