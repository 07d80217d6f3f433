package graft.tools
import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** Dev probe: where does the multiclass GEMM path's time go at fixture
  * scale, and where is the honest GEMM-vs-UDF crossover? Variants:
  * float-encoder vs double-cast encoder, fanout on/off, row counts. */
object GemmProbe {
  def main(args: Array[String]): Unit = {
    val s = GraftSession(32)
    import s.implicits._
    val W = graft.ml.MlOps.weightsK
    val bcW = s.sparkContext.broadcast(W)

    def gemmFloat(df: DataFrame, fan: Boolean): DataFrame = {
      val base = df.select(col("vec_id").cast("long"), col("embedding"))
      val in0 = if (fan) base.repartition(32) else base
      in0.as[(Long, Array[Float])]
        .mapPartitions { it =>
          val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
          val ws = bcW.value; val k = ws.length; val dims = ws.head.length
          val wMat = new Array[Double](dims * k)
          var c = 0
          while (c < k) { System.arraycopy(ws(c), 0, wMat, c * dims, dims); c += 1 }
          it.grouped(256).flatMap { rows =>
            val m = rows.length
            val a = new Array[Double](dims * m)
            var i = 0
            while (i < m) {
              val v = rows(i)._2
              var j = 0
              while (j < dims) { a(i * dims + j) = v(j); j += 1 }
              i += 1
            }
            val y = new Array[Double](m * k)
            blas.dgemm("T", "N", m, k, dims, 1.0, a, dims, wMat, dims, 0.0, y, m)
            rows.iterator.zipWithIndex.map { case ((id, _), j) =>
              val (p, pm) = Kernels.multiclassFromLogits(Array.tabulate(k)(c => y(c * m + j)))
              (id, p, pm)
            }
          }
        }.toDF("vec_id", "pred", "p_max")
    }
    def udfPath(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        Kernels.multiclassScoreUdf(W)(col("embedding")).as("_mc"))
        .select(col("vec_id"), col("_mc._1").as("pred"), col("_mc._2").as("p_max"))

    def time(tag: String, mk: => DataFrame): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); mk.count(); (System.nanoTime() - t0) / 1e9 }
      println(f"[probe] $tag%-28s min ${ts.min}%.3f  (${ts.map(t => f"$t%.3f").mkString("/")})")
    }

    val emb = graft.Tables.embeddings(s, "/root/testdata/sf0.1").cache()
    emb.count()
    time("sf0.1 udf", udfPath(emb))
    time("sf0.1 gemm float fan", gemmFloat(emb, fan = true))
    time("sf0.1 gemm float nofan", gemmFloat(emb, fan = false))

    // larger synthetic corpus: 200k rows x 64 dims
    val big = s.range(200000).select(col("id").as("vec_id"),
      expr("transform(sequence(1,64), i -> cast(sin(id * 64 + i) as float))").as("embedding"))
      .cache()
    big.count()
    time("200k udf", udfPath(big))
    time("200k gemm float fan", gemmFloat(big, fan = true))
    time("200k gemm float nofan", gemmFloat(big, fan = false))
    s.stop()
  }
}
