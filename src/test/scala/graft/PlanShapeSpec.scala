package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The plan-shape regression gate: the physical-plan properties the
  * engine's scale story depends on, asserted inside `sbt test` so a
  * plan flip (like round 3's minhash broadcast→shuffle, 11 s → 27 s on
  * identical code) cannot ship silently again. All checks inspect the
  * INITIAL executed plan string — the stats regime where flips happen.
  * Note: constructing the dedup_* queries is not free — their shared
  * hash tables materialize eagerly at call time (the r4 race fix), so
  * the sweep below runs those jobs at sf0.001; the plan ASSERTIONS
  * still run against un-executed final stages.
  */
class PlanShapeSpec extends AnyFunSuite {

  private def plan(s: SparkSession, k: String, dir: String = TestSpark.sf0001): String =
    SparkEntry.queries(k)(s, dir).queryExecution.executedPlan.toString

  /** (key, any-of pattern, why) — the per-key shape contract. */
  private val shapeChecks: Seq[(String, String, String)] = Seq(
    ("join_inner_broadcast", "BroadcastHashJoin", "dim join must broadcast"),
    ("join_inner_shufflemerge", "SortMergeJoin", "fact-fact join must sort-merge"),
    ("join_multiway_revenue", "BroadcastHashJoin", "customer/nation sides broadcast"),
    ("join_semi", "LeftSemi", "semi join planned as semi, not inner+distinct"),
    ("join_anti", "LeftAnti", "anti join planned as anti, not outer+filter"),
    ("join_asof", "Window", "as-of via single window pass, not per-row subquery"),
    ("topk_global", "TakeOrderedAndProject", "global top-k must not globally sort"),
    ("agg_groupby_q1", "HashAggregate", "partial+final hash agg"),
    ("scan_parquet_project_filter", "PushedFilters: [IsNotNull",
      "filter pushdown reaches the parquet scan"),
    ("sim_knn_bruteforce", "BroadcastHashJoin",
      "exact top-k routes through the allowed-cell-pair equi-join"),
    ("stream_tumbling_counts", "HashAggregate", "window agg is a hash agg"),
    ("window_ranks", "BroadcastHashJoin",
      "global ranks are a per-band-aggregate lookup, not a single-partition window"),
    ("dedup_embed_cosine", "BroadcastHashJoin",
      "vectors route through the allowed-cell-pairs equi-join"),
    ("text_tfidf", "HashAggregate", "document frequency from one aggregate"),
    ("text_quality_filter", "HashAggregate",
      "per-group cut from the bounded-state histogram percentile, not a value buffer"),
    ("window_topk_per_group", "TopKPerGroup",
      "row_number<=k rewritten to the bounded-heap operator"),
    ("sim_knn_per_query", "TopKPerGroup", "per-query knn rank also takes the native top-k"),
    ("text_decontaminate", "BroadcastHashJoin",
      "the bounded benchmark gram set is broadcast; the corpus streams map-side"),
    ("data_pack_shards", "BroadcastHashJoin",
      "band offsets are a tiny broadcast lookup, not a corpus-wide shuffle join"),
    ("sim_knn_rplsh", "TopKPerGroup",
      "the LSH candidate ranking takes the native bounded-heap top-k"),
    ("events_anomaly_zscore", "BroadcastHashJoin",
      "per-type stats are a tiny broadcast lookup, not a second shuffle"),
    ("agg_outlier_iqr", "BroadcastHashJoin",
      "per-group fences are a tiny broadcast lookup, not a second shuffle"),
    ("text_top_bigrams", "TakeOrderedAndProject",
      "top-k grams via bounded heap, never a full gram-table sort"),
    ("events_top_paths", "TakeOrderedAndProject",
      "top-k paths via bounded heap, never a full path-table sort"),
    ("data_sample_group_topn", "TopKPerGroup",
      "the per-group cap takes the bounded-heap operator, not a per-group sort"),
    ("text_keywords_topk", "TopKPerGroup",
      "per-doc keyword ranking takes the bounded-heap operator"),
    ("agg_mode", "TopKPerGroup",
      "per-group argmax (mode) takes the bounded-heap operator, not a per-group sort"),
    ("scan_jsonl_events", "FileScan json",
      "the JSONL key must actually read back through the JSON source"),
    ("scan_csv_lineitem", "FileScan csv",
      "the CSV key must actually read back through the CSV source"),
    ("ml_infer_batch_gemm", "MapPartitions",
      "the batched forward pass runs through mapPartitions, not a per-row UDF"),
    ("agg_percentile_approx", "HashAggregate",
      "the sketch percentile partial-combines as a hash aggregate"),
    ("scan_orc_orders", "FileScan orc",
      "the ORC key must actually read back through the ORC source"),
    ("agg_heavy_hitters", "LeftSemi, BuildRight",
      "the recount is pre-filtered by the broadcast candidate set, so the " +
        "count aggregate's state is candidates, never vocabulary"),
    ("agg_distinct_sketch_rollup", "hll_union_agg",
      "the rollup merges per-day sketch states — pre-aggregation, not a re-scan"),
    ("events_attribution", "Window",
      "the touch lookup is ONE window pass over the union, never a " +
        "per-conversion subquery or theta join"),
    ("scan_clustered_minmax", "GreaterThanOrEqual(l_shipdate",
      "the range predicate must reach PushedFilters on the clustered " +
        "scan (as an LTZ comparison — NTZ never builds a parquet filter, " +
        "SURVEY §7.2 #12)"),
    ("sim_knn_ivfpq", "TopKPerGroup",
      "both the ADC shortlist and the final top-k take the bounded-heap " +
        "operator, never a per-query sort"),
    ("sim_knn_ivf_probe_only", "TopKPerGroup",
      "the probe-only IVF key keeps the persisted twin's ranking shape"),
    ("ml_infer_mlp_gemm", "MapPartitions",
      "the batched 2-layer forward pass runs through the GEMM " +
        "mapPartitions, not a per-row UDF"),
    ("ml_eval_map", "TopKPerGroup",
      "the AP ranking's top-10 takes the bounded-heap operator like " +
        "sim_knn_per_query, never a per-query sort"),
    ("ml_crossval_linreg", "BroadcastHashJoin",
      "the k-row coefficient table broadcasts back for held-out scoring"),
    ("text_bpe_merge_candidates", "TakeOrderedAndProject",
      "top-20 merge candidates via bounded heap, never a full bigram sort"),
    ("sim_maxsim_multivector", "TopKPerGroup",
      "the MaxSim per-query rank takes the bounded-heap operator"),
    ("sim_knn_pca", "TopKPerGroup",
      "the coarse shortlist and the exact re-rank take the bounded-heap operator"),
    ("sim_knn_ivf", "TopKPerGroup",
      "the IVF probe's per-query rank takes the bounded-heap operator"),
    ("sim_knn_ivf_persisted", "TopKPerGroup",
      "the cold index probe keeps the in-memory IVF ranking shape"),
    ("sim_knn_ivf_upsert", "TopKPerGroup",
      "the probe over an upserted index keeps the IVF ranking shape")
  )

  test("sim_knn_pca plans two top-k cuts: the coarse shortlist and the final rank") {
    val cuts = SparkEntry.queries("sim_knn_pca")(TestSpark.spark, TestSpark.sf0001)
      .queryExecution.optimizedPlan.collect { case t: graft.plans.TopKPerGroup => t.k }
    assert(cuts.size == 2, s"expected 2 TopKPerGroup cuts, got k = $cuts")
  }

  test("ml_crossval_linreg: one fact scan per pass — the stats branch is pinned") {
    val s = TestSpark.spark
    val p = plan(s, "ml_crossval_linreg")
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"expected exactly 1 lineitem FileScan (stats pinned + 1 scoring pass), got $scans:\n$p")
  }

  test("text_bpe_merge_candidates: the pair explode runs over the vocab aggregate, not the corpus") {
    val s = TestSpark.spark
    val p = plan(s, "text_bpe_merge_candidates")
    // printed top-down: pair Generate … vocab HashAggregate … token
    // Generate — an aggregate BETWEEN the two generates proves the
    // pair explode's input is the distinct-word table
    val firstGen = p.indexOf("Generate explode(transform")
    val tokenGen = p.indexOf("Generate explode(split")
    assert(firstGen >= 0 && tokenGen > firstGen,
      s"expected pair-transform Generate above the token-split Generate:\n$p")
    assert(p.substring(firstGen, tokenGen).contains("HashAggregate"),
      s"no aggregate between the pair explode and the token explode — " +
        s"pairs are exploding per corpus token, not per distinct word:\n$p")
  }

  test("dedup_near_jaccard_shuffle pins the no-broadcast 100TB posture") {
    val s = TestSpark.spark
    val p = plan(s, "dedup_near_jaccard_shuffle")
    assert(p.contains("ShuffledHashJoin"),
      s"expected SHUFFLE_HASH-pinned joins in the no-broadcast posture:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a corpus-sized side got broadcast despite the pinned posture:\n$p")
  }

  test("dedup_containment_shuffle pins the no-broadcast 100TB posture") {
    val s = TestSpark.spark
    val p = plan(s, "dedup_containment_shuffle")
    assert(p.contains("ShuffledHashJoin"),
      s"expected SHUFFLE_HASH-pinned joins in the no-broadcast posture:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a corpus-sized side got broadcast despite the pinned posture:\n$p")
  }

  test("join_bloom_prefilter probes the bloom at the fact scan, before the exchange") {
    val s = TestSpark.spark
    val p = plan(s, "join_bloom_prefilter")
    assert(p.contains("graft_bloom_probe"),
      s"expected the bloom probe predicate in the plan:\n$p")
    // the probe must run BELOW the semi-join: find the Filter line
    // carrying it and assert a lineitem scan sits underneath with no
    // intervening join — textually, the probe appears after the last
    // join operator mention in the bottom-up printed plan
    val probeIdx = p.indexOf("graft_bloom_probe")
    val scanIdx = p.indexOf("lineitem.parquet")
    assert(scanIdx > probeIdx,
      s"bloom probe should sit directly above the lineitem scan:\n$p")
    assert(!p.substring(probeIdx, scanIdx).contains("Join"),
      s"a join operator sits between the bloom probe and the fact scan — " +
        s"the pre-filter is not pre:\n$p")
  }

  test("dedup_minhash_probe_only joins are pinned broadcast like the persisted twin") {
    val s = TestSpark.spark
    val p = plan(s, "dedup_minhash_probe_only")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"probe-only LSH plan fell back to a shuffle join:\n$p")
  }

  shapeChecks.foreach { case (k, pat, why) =>
    test(s"$k plan contains ${pat.takeWhile(_ != ' ')} ($why)") {
      val s = TestSpark.spark
      val p = plan(s, k)
      assert(pat.split('|').exists(p.contains), s"expected [$pat] in plan:\n$p")
    }
  }

  /** The same contract one scale up, where the broadcast/shuffle
    * choices see ten times the rows: the shape rows above that must
    * also hold at sf0.01, rows checked only at sf0.01, then the shapes
    * that must NOT appear there. */
  private val sf001 = s"${new java.io.File(TestSpark.sf0001).getParent}/sf0.01"
  private val sf001Keys = Set("join_inner_broadcast", "join_inner_shufflemerge",
    "join_multiway_revenue", "join_semi", "join_anti", "join_asof", "topk_global",
    "agg_groupby_q1", "scan_parquet_project_filter", "sim_knn_bruteforce",
    "stream_tumbling_counts", "window_ranks", "dedup_embed_cosine", "text_tfidf",
    "window_topk_per_group", "sim_knn_per_query")
  private val sf001Checks: Seq[(String, String, String)] =
    shapeChecks.filter(r => sf001Keys(r._1)) ++ Seq(
      ("dedup_minhash_lsh", "ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin",
        "bucket equi-join"),
      ("text_quality_filter", "BroadcastHashJoin",
        "binned-percentile cut broadcasts back, never a global sort"),
      ("sim_knn_ivf_routed", "TopKPerGroup", "routed probe's rank takes the native top-k too"),
      ("data_snapshot_expire", "HashAggregate",
        "post-GC checksum is one hash aggregate over the survivor scan"),
      ("data_snapshot_compact", "HashAggregate",
        "both versions' checksums are hash aggregates"))
  private val sf001NegChecks: Seq[(String, String, String)] = Seq(
    ("sim_knn_bruteforce", "BroadcastNestedLoopJoin", "an unblocked O(n²) pair join"),
    ("text_quality_filter", "ntile", "a global-sort quantile of the corpus"),
    ("sim_knn_ivf_routed", "BroadcastNestedLoopJoin", "the routed probe must stay an equi-join")
  )

  sf001Checks.foreach { case (k, pat, why) =>
    test(s"$k plan at sf0.01 contains ${pat.takeWhile(_ != ' ')} ($why)") {
      val p = plan(TestSpark.spark, k, sf001)
      assert(pat.split('|').exists(p.contains), s"expected [$pat] in plan:\n$p")
    }
  }

  sf001NegChecks.foreach { case (k, pat, why) =>
    test(s"$k plan at sf0.01 has no $pat ($why)") {
      val p = plan(TestSpark.spark, k, sf001)
      assert(!p.contains(pat), s"unexpected [$pat] in plan:\n$p")
    }
  }

  test("agg_incremental_merge: the final plan scans raw events once (delta) and partials once") {
    // the key's whole point is that history is never rescanned: the
    // merged aggregate must read the persisted partial table for the
    // historical window and touch the raw events parquet only for the
    // delta — if a second raw scan ever appears, the incremental cost
    // model is silently broken
    val s = TestSpark.spark
    val p = plan(s, "agg_incremental_merge")
    def count(sub: String) = p.sliding(sub.length).count(_ == sub)
    assert(count("events.parquet") == 1,
      s"expected exactly one raw events scan (the delta), plan:\n$p")
    assert(count("graft_agg_partials") == 1,
      s"expected exactly one partial-table scan, plan:\n$p")
  }

  test("events ts predicates push to the parquet scan through the NTZ cast wrapper") {
    // Tables.events wraps the NTZ-era fixture's ts in cast(ts as
    // timestamp) (Tables.scala), so EVERY events scan carries the cast.
    // A ts range predicate must be unwrapped by Catalyst back onto the
    // stored NTZ column and reach BOTH DataFilters and PushedFilters —
    // if it ever lingers above the cast as a post-scan Filter, every
    // time-bounded events query reads the full table: invisible at
    // 100 k rows, fatal at 100 TB. (PushedFilters on an NTZ column
    // still does not build a parquet row-group FilterPredicate —
    // SURVEY §7.2 #12 — which is why the engine's own time-series
    // layout, writeRangeClustered, normalizes to LTZ µs; this test
    // pins the PLAN half: the predicate must arrive at the scan.)
    val s = TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit}
    // sf0.01, NOT sf0.001: StreamingParitySpec caches the sf0.001
    // events frame in the shared session, and the cache manager would
    // swap this plan's scan for an InMemoryTableScan — hiding the
    // parquet PushedFilters this test exists to observe
    val f = Tables.events(s, sf001)
      .filter(col("ts") >= lit("2024-03-01 00:00:00").cast("timestamp"))
      .select("event_type", "ts")
    val p = f.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts predicate failed to reach PushedFilters through the NTZ cast:\n$p")
    // the unwrap must also reach DataFilters (the split Spark actually
    // evaluates at the scan) — PushedFilters alone can be cosmetic
    assert("DataFilters: \\[[^\\]]*\\(ts".r.findFirstIn(p).isDefined,
      s"ts predicate missing from DataFilters:\n$p")
  }

  test("dedup_minhash_lsh joins are pinned broadcast — no shuffle join can appear") {
    val s = TestSpark.spark
    val p = plan(s, "dedup_minhash_lsh")
    assert(!p.contains("SortMergeJoin"), s"minhash plan fell back to SMJ:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"minhash plan fell back to SHJ:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected bucket + 2 verify joins broadcast, got $bhj BHJs:\n$p")
  }

  test("dedup_incremental_minhash joins are pinned broadcast too") {
    val s = TestSpark.spark
    val p = plan(s, "dedup_incremental_minhash")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"incremental LSH plan fell back to a shuffle join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected bucket + 2 verify joins broadcast:\n$p")
  }

  test("de-BNLJ'd plans stay nested-loop-free (embedding family + banded ranks)") {
    val s = TestSpark.spark
    // r8 flagged sim_knn_bruteforce as the one declared key planning
    // a BroadcastNestedLoopJoin; the exact top-k now rides the
    // threshold descent, the cell-pair admission test moved
    // driver-side (≤ |cells|² work on a table the driver already
    // holds), and bandedRanks' grand total rides the band window
    // instead of a scalar cross join — none of these may regress
    Seq("sim_knn_bruteforce", "dedup_embed_cosine",
        "dedup_embed_incremental", "window_ranks").foreach { k =>
      val p = plan(s, k)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$k plans a nested-loop join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian product:\n$p")
    }
  }

  test("jaccard-family joins are pinned broadcast — no shuffle join can appear") {
    val s = TestSpark.spark
    // the exact-dedup pipeline (PPJoin df/candidate/verify joins) and
    // the keep_best cluster lookup were the last stats-derived joins
    // in the dedup family — r6's dedup_keep_best regression read
    // through exactly this gap (an SMJ appearing after a checkpoint
    // erased the stats). Every one of these plans must now hold its
    // pinned-broadcast shape at any stats regime.
    Seq("dedup_near_jaccard", "dedup_ngram_jaccard", "dedup_incremental",
        "dedup_clusters", "dedup_keep_best").foreach { k =>
      val p = plan(s, k)
      assert(!p.contains("SortMergeJoin"), s"$k plan fell back to SMJ:\n$p")
      assert(!p.contains("ShuffledHashJoin"), s"$k plan fell back to SHJ:\n$p")
    }
  }

  test("jaccard family (broadcastJoins=false) plans every join as an equi-shuffle") {
    val s = TestSpark.spark
    val docs = Tables.documents(s, TestSpark.sf0001)
    val isNew = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.md5(col("doc_id").cast("string").cast("binary")),
      1, 1) >= "d"
    Seq(
      graft.api.Dedup.nearJaccardPairs(docs, "doc_id", "text", 0.8,
        Some("lang"), broadcastJoins = false),
      graft.api.Dedup.jaccardPairsAgainstIndex(docs.filter(isNew), docs.filter(!isNew),
        "doc_id", "text", 0.8, Some("lang"), broadcastJoins = false)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"), s"expected SHJ-hinted joins at scale:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"scale setting must not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"scale setting must not sort-merge:\n$p")
    }
  }

  test("join_skew_salted: derived salt factor >1 and plan-visible build replication") {
    val s = TestSpark.spark
    // hot key routes to 1 (an existing c_custkey) — keep in lockstep
    // with the declared key so the answer-equality check below also
    // covers the hot rows themselves
    val probe = Tables.events(s, TestSpark.sf0001).select(
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.pmod(col("user_id"),
          org.apache.spark.sql.functions.lit(10)) < 7,
        org.apache.spark.sql.functions.lit(1L))
        .otherwise(org.apache.spark.sql.functions.pmod(col("user_id"),
          org.apache.spark.sql.functions.lit(100))).as("route_id"),
      col("event_id"), col("value"))
    // the synthetic heavy hitter (~70% of rows on route 0) must
    // derive a salt factor well above 1 from probe stats alone -
    // ceil(maxKeyRows / (total/parts)) = ceil(0.7*total/(total/32))
    val k = graft.api.SkewJoins.derivedSaltFactor(probe, "route_id")
    assert(k > 1, s"uniform-looking stats? derived salt factor = $k")
    // factor ~= ceil(measured hot fraction x shuffle.partitions) — at
    // sf0.001 the hot key carries ~79% (user_id spans only 0..14, so
    // ids 10-14 also route hot), NOT the nominal 70%; derive the
    // expectation from the data so a partition-count or fixture
    // change cannot break the test without a product change
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val stats = probe.groupBy("route_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .agg(org.apache.spark.sql.functions.max("n"),
        org.apache.spark.sql.functions.sum("n")).collect()(0)
    val hotFrac = stats.getLong(0).toDouble / stats.getLong(1)
    assert(hotFrac > 0.5, s"fixture lost its heavy hitter: $hotFrac")
    val expected = math.min(64, math.ceil(hotFrac * parts)).toInt
    assert(math.abs(k - expected) <= 1,
      s"expected ~$expected for a ${(hotFrac * 100).round}% hot key " +
        s"at $parts partitions, got $k")
    // and the salted join's physical plan must SHOW the replication:
    // an explode Generate on the build side and _salt in the join key
    val build = Tables.customer(s, TestSpark.sf0001)
      .filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("route_id"), col("c_mktsegment"))
    val joined = graft.api.SkewJoins.saltedJoinAuto(probe, build,
      "route_id", "event_id")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"), s"no build-side replication in plan:\n$p")
    assert(p.contains("_salt"), s"join does not include the salt key:\n$p")
    // salting must be answer-invisible: identical (event_id, segment)
    // multiset as the plain equi-join
    val plain = probe.join(build, Seq("route_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "c_mktsegment").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows(joined) == rows(plain))
  }

  test("minhashPairs(broadcastJoins=false) plans every join as an equi-shuffle") {
    val s = TestSpark.spark
    val docs = Tables.documents(s, TestSpark.sf0001)
    val p = graft.api.Dedup.minhashPairs(docs, "doc_id", "text", 0.8,
      broadcastJoins = false).queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected SHJ-hinted joins at scale:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"scale setting must not broadcast:\n$p")
  }

  test("sessionize is exactly one user-keyed shuffle; chunkFixed is shuffle-free") {
    val s = TestSpark.spark
    val p1 = graft.api.TimeSeriesOps.sessionize(
      Tables.events(s, TestSpark.sf0001), "user_id", "event_id", "ts",
      21600000000L).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p1).size == 1,
      s"sessionize must shuffle once on the user key (lag, running sum, and " +
        s"the (user, session) aggregate all reuse that partitioning):\n$p1")
    val p2 = graft.api.TextAnalysis.chunkFixed(
      Tables.documents(s, TestSpark.sf0001), "doc_id", "text", 64, 48)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"chunkFixed must not shuffle:\n$p2")
  }

  test("no CartesianProduct in any declared query plan except join_cross_small") {
    val s = TestSpark.spark
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_ == "join_cross_small")
      .filter(k => plan(s, k).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"unblocked cartesian products in: $offenders")
  }

  test("scan_partitioned_events prunes at the file index (non-empty PartitionFilters)") {
    val s = TestSpark.spark
    val p = plan(s, "scan_partitioned_events")
    // Spark 4.1.2's FileSourceScanLike.metadata prints the
    // 'PartitionFilters: [...]' key on EVERY file scan, partitioned
    // or not (empty brackets when nothing prunes) — so a bare
    // contains("PartitionFilters: [") is vacuously true (r10 ADVICE).
    // Assert the brackets actually CONTAIN the partition predicate on
    // event_type, and that the isin moved OUT of the post-scan data
    // filters: partition pruning means the other 3 types' files are
    // never opened, not merely filtered after the read.
    val partFilters = """PartitionFilters: \[([^\]]*)\]""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.nonEmpty && f.contains("event_type")),
      s"expected a non-empty PartitionFilters entry on event_type, got " +
        s"$partFilters in plan:\n$p")
    val dataFilters = """(?:DataFilters|PushedFilters): \[([^\]]*)\]""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!dataFilters.exists(_.contains("event_type")),
      s"the event_type IN (...) predicate must prune partitions, not " +
        s"linger as a data/pushed filter: $dataFilters in plan:\n$p")
  }

  test("scan_bucketed_join: join AND per-order agg ride the bucket layout exchange-free") {
    val s = TestSpark.spark
    val p = plan(s, "scan_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      s"bucketed fact-fact join must sort-merge:\n$p")
    // the entire point of the key: neither the join nor the groupBy
    // on the bucket key may re-shuffle either fact table — the ONLY
    // shuffle allowed in the plan is the final presentation orderBy
    // (a rangepartitioning exchange)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/agg still hash-shuffles:\n$p")
    val shuffles = """Exchange (hash|range|Single)""".r.findAllIn(p).size
    assert(shuffles <= 1,
      s"expected at most the orderBy's range exchange, got $shuffles:\n$p")
  }

  test("sim_knn_ivf_persisted: probed cells dynamically prune the index scan") {
    val s = TestSpark.spark
    val p = plan(s, "sim_knn_ivf_persisted")
    // the persisted index is laid out one directory per cell; the
    // probe must reach the FILE INDEX as a dynamic partition-pruning
    // expression on the cell id (cells no query probes are never
    // opened — the nprobe/|cells| read cost the layout exists for),
    // and the candidate join must stay a broadcast equi-join
    assert(p.contains("dynamicpruningexpression(_cell"),
      s"index scan does not dynamically prune on the probed cells:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe join must broadcast the query side:\n$p")
    assert(p.contains("TopKPerGroup"),
      s"per-query rank must take the bounded-heap operator:\n$p")
  }

  test("scan_parquet_project_filter prunes columns at the scan (ReadSchema)") {
    val s = TestSpark.spark
    val p = plan(s, "scan_parquet_project_filter")
    // the query projects 5 of lineitem's 16 columns; the scan schema
    // must carry none of the unprojected ones
    assert(p.contains("ReadSchema"), s"no ReadSchema in plan:\n$p")
    Seq("l_comment", "l_returnflag", "l_tax").foreach { c =>
      assert(!p.contains(c + ":"), s"unpruned column $c reached the scan:\n$p")
    }
  }

  test("binned-percentile keys scan their input once and plan no join (r10 null-bin shape)") {
    // the all-null-group fix rides a zero-weight null bin INSIDE the
    // histogram — a regression to the join-back shape would show a
    // second scan or a join here
    val s = TestSpark.spark
    Seq("agg_percentile", "agg_percentiles_multi").foreach { k =>
      val p = plan(s, k)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$k scans its input $scans times:\n$p")
      assert(!p.contains("Join"), s"$k plans a join:\n$p")
    }
  }

  test("ml_lift_table plans no global ntile and rolls the corpus into one hash aggregate") {
    // r17's one weak item: the lift table ran a global ntile window —
    // a full single-partition sort of the scored corpus. The rework
    // cuts deciles from the bounded-state histogram percentile
    // (events_rfm_segments recipe); the corpus-scale stage must now be
    // a hash aggregate, with windows only over the ≤10-row decile table.
    val s = TestSpark.spark
    val p = plan(s, "ml_lift_table")
    assert(!p.contains("ntile"), s"global ntile window still planned:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate over the corpus:\n$p")
    // exactly one embeddings scan: the score histogram is pinned and
    // feeds both the cuts pass and the rollup
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, // pinned bins truncate lineage → scan not in final plan
      s"corpus rescanned below the pinned histogram ($scans scans):\n$p")
  }

  test("ml_lift_table cut-decile semantics: exact vs driver reference, near-ntile, all scales") {
    // pins the old/new equivalence at all three fixture scales: the
    // cut-decile table must (a) exactly match an independent
    // driver-side reimplementation of the cut semantics ((n−1)p
    // interpolated quantiles, r4-rounded, strict-exceed buckets) and
    // (b) differ from the retired ntile table only by boundary ties
    // (per-decile row drift ≤ the largest tie run, totals identical).
    val s = TestSpark.spark
    def r4(v: Double): Double = math.floor(v * 10000.0 + 0.5) / 10000.0
    val fixtures = new java.io.File(TestSpark.sf0001).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$fixtures/$sf").foreach { d =>
      val rows = graft.api.MlPipeline
        .linearScore(Tables.embeddings(s, d), "embedding", graft.ml.MlOps.weights)
        .select(Canon.r4(col("score")).as("score"),
          (col("label") % 2).cast("int").as("y"), col("vec_id"))
        .collect().map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
      val asc = rows.map(_._1).sorted
      val nR = asc.length
      val cuts = (1 to 9).map { k =>
        val h = (nR - 1).toDouble * k / 10.0
        val (lo, hi) = (math.floor(h).toInt, math.ceil(h).toInt)
        r4(if (lo == hi || asc(lo) == asc(hi)) asc(lo)
           else (hi - h) * asc(lo) + (h - lo) * asc(hi))
      }
      val expected = rows.groupBy { case (sc, _, _) =>
          10L - cuts.count(sc > _) }
        .map { case (dd, rs) => (dd, rs.length.toLong, rs.map(_._2.toLong).sum) }
        .toSeq.sortBy(_._1)
      val actual = SparkEntry.queries("ml_lift_table")(s, d)
        .select("decile", "n", "n_pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(actual == expected, s"cut-decile mismatch at $d")
      // ntile closeness: boundary ties are the ONLY divergence
      val ntiles = rows.sortBy { case (sc, _, id) => (-sc, id) }
        .zipWithIndex.map { case ((sc, y, _), i) =>
          // SQL ntile remainder rule: first n%10 buckets get one extra
          val base = nR / 10; val rem = nR % 10
          val d10 = if (i < (base + 1) * rem) i / (base + 1)
                    else rem + (i - (base + 1) * rem) / base
          (d10 + 1L, y.toLong)
        }
      val old: Map[Long, (Long, Long)] = ntiles.groupBy(_._1)
        .map { case (dd, rs) => (dd, (rs.length.toLong, rs.map(_._2).sum)) }
      val maxTie = rows.groupBy(_._1).values.map(_.length).max.toLong
      assert(actual.map(_._2).sum == old.values.map(_._1).sum)
      assert(actual.map(_._3).sum == old.values.map(_._2).sum)
      actual.foreach { case (dd, nn, _) =>
        val on = old.get(dd).map(_._1).getOrElse(0L)
        assert(math.abs(nn - on) <= maxTie,
          s"decile $dd at $d drifted beyond boundary ties: cut=$nn ntile=$on")
      }
    }
  }

  test("fanout does not add an exchange to an already-parallel input") {
    val s = TestSpark.spark
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = Tables.documents(s, TestSpark.sf0001).repartition(n, col("doc_id"))
    val p = graft.api.Fanout(wide).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"fanout on $n-partition input added an exchange:\n$p")
  }
}
