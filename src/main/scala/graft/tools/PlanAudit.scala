package graft.tools
import graft.GraftSession
/** Dev-only: assert the physical-plan shapes we rely on at scale. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    def plan(k: String): String =
      graft.SparkEntry.queries(k)(spark, d).queryExecution.executedPlan.toString
    val checks: Seq[(String, String, String)] = Seq(
      ("join_inner_broadcast", "BroadcastHashJoin", "dim join must broadcast"),
      ("join_inner_shufflemerge", "SortMergeJoin", "fact-fact join must sort-merge"),
      ("join_multiway_revenue", "BroadcastHashJoin", "customer/nation sides broadcast"),
      ("join_semi", "LeftSemi", "semi join planned"),
      ("join_anti", "LeftAnti", "anti join planned"),
      ("join_asof", "Window", "as-of via single window, not per-row subquery"),
      ("topk_global", "TakeOrderedAndProject", "top-k must not globally sort"),
      ("agg_groupby_q1", "HashAggregate", "partial+final hash agg"),
      ("scan_parquet_project_filter", "PushedFilters: [IsNotNull", "filter pushdown reaches scan"),
      // r20: updated from the stale BroadcastNestedLoopJoin expectation
      // — the key was REWORKED rounds ago to the cell-blocked threshold
      // descent (candidates route through the cell equi-join); the
      // negative check below pins that no unblocked O(n²) BNLJ remains
      ("sim_knn_bruteforce", "BroadcastHashJoin", "exact knn routes through the cell-blocked equi-join"),
      ("dedup_minhash_lsh", "ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin", "bucket equi-join"),
      ("stream_tumbling_counts", "HashAggregate", "window agg is hash agg"),
      ("window_ranks", "BroadcastHashJoin", "ranks are a per-band-aggregate lookup, not a global window"),
      ("dedup_embed_cosine", "BroadcastHashJoin", "vectors route through allowed cell pairs (equi-join)"),
      ("text_tfidf", "HashAggregate", "document frequency from one aggregate"),
      // r20: updated from the stale `percentile` expectation — the cut
      // comes from the bounded-state binnedPercentiles bin table since
      // the rework, broadcast back onto the corpus
      ("text_quality_filter", "BroadcastHashJoin", "binned-percentile cut broadcasts back, never a global sort"),
      ("window_topk_per_group", "TopKPerGroup", "row_number<=k rewritten to the bounded-heap operator"),
      ("sim_knn_per_query", "TopKPerGroup", "per-query knn rank also takes the native top-k"),
      ("sim_knn_ivf_routed", "TopKPerGroup", "routed probe's rank takes the native top-k too"),
      ("data_snapshot_expire", "HashAggregate", "post-GC checksum is one hash aggregate over the survivor scan"),
      ("data_snapshot_compact", "HashAggregate", "both versions' checksums are hash aggregates")
    )
    // shapes that must NOT appear — the scale traps the reworks removed
    val negChecks: Seq[(String, String, String)] = Seq(
      ("sim_knn_bruteforce", "BroadcastNestedLoopJoin", "an unblocked O(n²) pair join"),
      ("text_quality_filter", "ntile", "a global-sort quantile of the corpus"),
      ("sim_knn_ivf_routed", "BroadcastNestedLoopJoin", "the routed probe must stay an equi-join")
    )
    var fail = 0
    checks.foreach { case (k, pat, why) =>
      val p = plan(k)
      val ok = pat.split('|').exists(p.contains)
      if (!ok) fail += 1
      println(s"PLAN ${if (ok) "OK  " else "FAIL"} $k [$pat] ($why)")
    }
    negChecks.foreach { case (k, pat, why) =>
      val ok = !plan(k).contains(pat)
      if (!ok) fail += 1
      println(s"PLAN ${if (ok) "OK  " else "FAIL"} $k [NOT $pat] (must not plan $why)")
    }
    println(s"PLAN AUDIT: ${checks.size + negChecks.size - fail}/${checks.size + negChecks.size} ok")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
