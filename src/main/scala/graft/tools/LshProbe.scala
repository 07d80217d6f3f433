package graft.tools

import graft.{GraftSession, Tables}
import graft.api.Dedup
import graft.functions.Kernels
import org.apache.spark.sql.functions._

/** Dev-only probe: end-to-end timing + plan of minhashPairs. */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(32)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"STAGE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $r")
      r
    }
    val docs0 = Tables.documents(spark, d)
    t("raw scan")(docs0.count())
    val th = docs0.select(col("doc_id"), Kernels.tokenHashesUdf(split(col("text"), " ")).as("_th"))
    t("tokenHashes")(th.agg(sum(size(col("_th")))).collect()(0))
    val sig = th.select(Kernels.minhashBandsUdf(16, 8)(col("_th")).as("_sig"))
    t("minhashBands")(sig.agg(sum(size(col("_sig")))).collect()(0))
    val banded = sig.select(posexplode(col("_sig")).as(Seq("_b", "_bh")))
    t("banded explode")(banded.count())
    t("banded fanout")(banded.repartition(32).count())
    // raw bucket-collision volume BEFORE the first-band dedup filter —
    // the number of rows the firstBand expression actually evaluates on
    val th2 = docs0.repartition(32)
      .select(col("doc_id").as("_id"), Kernels.tokenHashesUdf(split(col("text"), " ")).as("_th"))
      .localCheckpoint()
    val sig2 = th2.select(col("_id"),
      Kernels.minhashBandsUdf(16, 8)(col("_th")).as("_sig")).localCheckpoint()
    val banded2 = sig2.select(col("_id"), col("_sig"),
      posexplode(col("_sig")).as(Seq("_band", "_bh")))
    val xx = banded2.select(col("_id").as("id1"), col("_band"), col("_bh"))
    val yy = banded2.select(col("_id").as("id2"),
      col("_band").as("_band2"), col("_bh").as("_bh2"))
    t("raw bucket collisions")(xx.join(broadcast(yy),
      col("_band") === col("_band2") && col("_bh") === col("_bh2")
        && col("id1") < col("id2")).count())
    val pairs = Dedup.minhashPairs(docs0, "doc_id", "text", 0.8)
    t("end-to-end count")(pairs.count())
    spark.stop()
  }
}
