package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev-only: materialize a deterministic ~10× `documents` fixture for
  * the scale-growth bench — `runMain graft.tools.Scale10Gen <sfDir>
  * <outDir>` writes `<outDir>/documents.parquet` with 10 TOKEN-SALTED
  * replicas of `<sfDir>`'s corpus.
  *
  * The salt is the point: replica k prefixes every token with `r{k}x`
  * and offsets doc_id by k·10⁹, so replicas share NO vocabulary and
  * NO near-dup pairs — true pairs, candidates, and clusters all grow
  * exactly 10×, which is the growth a sub-quadratic engine should
  * track ~linearly. Naive replication WITHOUT the salt would make
  * every replica of a doc match every replica of its duplicates
  * (100× pairs at 10× rows) and test output growth, not engine
  * scaling. Deterministic: pure column transforms of the fixture,
  * no randomness. */
object Scale10Gen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: replica count (default 10). `1` materializes
    // the SALTED single-replica baseline — char-n-gram keys need it:
    // the token salt changes the gram distribution, so their growth
    // law must compare salted-1x to salted-10x, not raw sf0.1
    val nReplicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession(32)
    val docs = graft.Tables.documents(spark, sfDir)
    val replicas = (0 until nReplicas).map { k =>
      docs.select(
        (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit(s"r${k}x"), t))).as("text"),
        col("lang"), col("source"))
        // length of the SALTED text — a sibling length(col("text")) in
        // the select above would resolve against the INPUT column and
        // ship stale pre-salt lengths
        .withColumn("n_chars", length(col("text")))
    }
    replicas.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"SCALE10 wrote ${spark.read.parquet(s"$outDir/documents.parquet").count()} docs to $outDir")
    spark.stop()
  }
}
