package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev-only: materialize a LONG-TAIL-vocabulary `documents` fixture —
  * `runMain graft.tools.LongTailGen <outDir> [nDocs] [vocab]` writes
  * `<outDir>/documents.parquet` with `nDocs` docs (default 50 000)
  * over a `vocab`-token universe (default 50 000).
  *
  * The point is the OPPOSITE corpus regime from the sf fixtures: the
  * fixtures draw every doc from a ~30-word vocabulary, which makes
  * containment-0.9 quadratic-DENSE (2.1 M true pairs from 5 k docs —
  * the r16 forensic), so the shuffle posture's cost there measures
  * output volume, not join strategy. Here the vocabulary is ZIPF-ish:
  * 15 % of token slots draw from 200 hot "stopwords" (df in the
  * thousands — these never enter rarest-first prefixes) and 85 % from
  * a tail pool of `tailPool` tokens sized ≫ corpus so tail df ≈ 1–2 —
  * ambient overlap ~0, prefix-candidate volume ∝ corpus. The only
  * C ≥ 0.9 pairs are PLANTED: every 50th doc's text is its successor's
  * token list minus the last two tokens (containment exactly 1.0, same
  * lang block) — true pairs ∝ docs/50, the sparse-output regime a
  * web-scale corpus actually presents.
  *
  * Deterministic: token choices come from murmur3 `hash()` of the doc
  * id — pure column transforms, no randomness. */
object LongTailGen {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val tailPool = if (args.length > 2) args(2).toInt else 1000000
    val spark = GraftSession(32)
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      // 20-40 distinct-ish tokens, 15% hot / 85% tail; array_distinct
      // because hash collisions may repeat a token within a doc
      array_distinct(transform(
        sequence(lit(0), pmod(hash(col("id")), lit(21)) + lit(19)),
        j => when(pmod(hash(col("id") * 7919 + j), lit(100)) < 15,
            concat(lit("h"), pmod(hash(col("id") * 31 + j * 7 + 1), lit(200))))
          .otherwise(
            concat(lit("t"), pmod(hash(col("id") * 1000 + j), lit(tailPool))))))
        .as("_toks"),
      pmod(hash(floor(col("id") / 2)), lit(2)).cast("int").as("_langix"))
    // plant: doc i (i % 50 == 0) := doc i+1's tokens minus the last 2
    // -> C(i -> i+1) = 1.0; floor(id/2)-derived lang keeps the pair in
    // one block (i is even, so i and i+1 share floor(id/2))
    val succ = base.select((col("doc_id") - 1).as("doc_id"), col("_toks").as("_succ"))
    val docs = base.join(succ, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ",
          when(col("doc_id") % 50 === 0 && col("doc_id") < nDocs - 1
              && size(col("_succ")) > 4,
            slice(col("_succ"), lit(1), size(col("_succ")) - 2))
            .otherwise(col("_toks"))).as("text"),
        element_at(array(lit("en"), lit("de")), col("_langix") + 1).as("lang"),
        lit("longtail").as("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"LONGTAIL wrote ${spark.read.parquet(s"$outDir/documents.parquet").count()} " +
      s"docs to $outDir (tailPool=$tailPool)")
    spark.stop()
  }
}
