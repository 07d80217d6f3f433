package graft.tools

import graft.GraftSession
import graft.api.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: REAL graph-growth measurement for the iterative graph
  * operators — `runMain graft.tools.GraphScaleBench <nodes> <outJson>`
  * generates a deterministic synthetic weighted digraph (the
  * ClusteredGen pattern: seeded arithmetic, no RNG state carried
  * across rows), runs each declared graph ALGORITHM at the declared
  * keys' round budgets, and writes a bench-shaped JSON (queries/runs)
  * consumable by tools/merge_scale10.py — so the BENCH_SCALE10
  * artifact gets growth rows measured on 100k→1M-node graphs instead
  * of the 25-node trade fixture (r19 VERDICT ask #2).
  *
  * Graph shape: 4 out-edges per node — three short-range ring links
  * (j → (j + 1/7/31·(1+j%3)) mod N: local clustering, varied stride
  * so rings interleave) plus one long-range link (j → (j·2654435761)
  * mod N: the small-world chord that keeps diameter logarithmic).
  * Self-loops dropped by the operators; weights 1 + (j·31 + c) % 9
  * where c is the row's monotonically_increasing_id mod 4 —
  * deterministic for a FIXED partition layout (spark.range at
  * local[32], this tool's fixed core count), which is the committed
  * artifact's reproduction condition; a different core count permutes
  * some weights (topology and timing shape are unaffected — weights
  * only feed the min-plus/LPA label arithmetic).
  * Timing = min of 2 runs per operator (first run in a fresh JVM pays
  * codegen; the artifact rule is min-of-runs, same as graft.Bench).
  */
object GraphScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GraphScaleBench <nodes> <outJson>")
    val n = args(0).toLong
    val outJson = args(1)
    val spark = GraftSession(32)
    import spark.implicits._

    val edges = spark.range(n).select(col("id").as("j"))
      .select(col("j"), explode(array(
        (col("j") + 1) % n,
        (col("j") + (col("j") % 3 + 1) * 7) % n,
        (col("j") + (col("j") % 3 + 1) * 31) % n,
        pmod(col("j") * 2654435761L, lit(n)))).as("dst"))
      .withColumn("c", monotonically_increasing_id() % 4)
      .select(col("j").as("src"), col("dst"),
        (lit(1) + pmod(col("j") * 31 + col("c"), lit(9))).cast("long").as("w"))
    val edgesP = graft.api.Checkpoints.pin(edges)
    val nEdges = edgesP.count()
    val sources = Seq(0L, n / 3, 2 * n / 3).toDF("node")

    def time(body: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = body.count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Seq[Double], Long)]()
    def bench(key: String)(body: => DataFrame): Unit = {
      val runs = (1 to 2).map(_ => time(body))
      val secs = runs.map(_._1)
      results(key) = (secs.min, secs, runs.head._2)
      println(f"GRAPHSCALE key=$key n=$n rows=${runs.head._2} min=${secs.min}%.3f runs=${secs.map(s => f"$s%.3f").mkString(",")}")
    }

    // round budgets mirror the declared keys (graph_pagerank 4 iters,
    // LPA 4 rounds, weighted/bfs 6); broadcastDist=false = the
    // billion-node equi-shuffle posture the scale claim is about
    bench("graph_pagerank_synth") {
      GraphOps.pagerankMass(edgesP, "src", "dst", iters = 4, broadcastMass = false)
    }
    bench("graph_label_propagation_synth") {
      GraphOps.labelPropagation(edgesP, "src", "dst", "w", rounds = 4)
    }
    bench("graph_weighted_paths_synth") {
      GraphOps.weightedDistances(edgesP, "src", "dst", "w", sources,
        rounds = 6, broadcastDist = false)
    }
    bench("graph_bfs_distances_synth") {
      GraphOps.bfsDistances(edgesP, "src", "dst", sources, maxHops = 6,
        broadcastDist = false)
    }

    val qs = results.map { case (k, (mn, _, _)) => s""""$k":$mn""" }.mkString(",")
    val runs = results.map { case (k, (_, rs, _)) =>
      s""""$k":[${rs.mkString(",")}]""" }.mkString(",")
    val json = s"""{"metric":"graph_scale","unit":"sec","n_nodes":$n,""" +
      s""""n_edges":$nEdges,"queries":{$qs},"runs":{$runs}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
