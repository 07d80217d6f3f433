package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Dev probe: why does a shipdate range predicate (not) prune row
  * groups on a range-clustered parquet layout? Prints the pushed
  * filters, the scan metrics, and the per-file footer stats. */
object MinMaxProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(8)
    val base = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    val variants: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("ntz", base, col("l_shipdate") >= "1995-06-01" && col("l_shipdate") < "1995-07-01"),
      ("ltz", base.withColumn("l_shipdate", col("l_shipdate").cast("timestamp")),
        col("l_shipdate") >= "1995-06-01" && col("l_shipdate") < "1995-07-01"),
      ("date", base.withColumn("l_shipdate", to_date(col("l_shipdate"))),
        col("l_shipdate") >= "1995-06-01" && col("l_shipdate") < "1995-07-01"))
    val out = variants.map { case (tag, df0, pred) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-mm-$tag").toString
      graft.sources.Writers.writeRangeClustered(df0, "l_shipdate", 8, dir)
      val df = spark.read.parquet(dir).filter(pred)
      val qe = df.queryExecution
      val n = qe.executedPlan.executeCollect().length
      qe.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          println(s"[$tag] result=$n scanOut=${f.metrics("numOutputRows").value}")
      }
      dir
    }.head
    val df = spark.read.parquet(out)
      .filter(col("l_shipdate") >= "1995-06-01" && col("l_shipdate") < "1995-07-01")
    df.explain("formatted")
    val qe = df.queryExecution
    // footer stats per file
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(out), conf)
    fs.listStatus(new Path(out)).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
      val rd = ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
      val fm = rd.getFooter
      fm.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "l_shipdate")
            println(s"${st.getPath.getName} rows=${b.getRowCount} stats=${c.getStatistics} type=${c.getPrimitiveType}")
        }
      }
      rd.close()
    }
    spark.stop()
  }
}
