package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Dedup {
  private def fanout(df: DataFrame): DataFrame = Fanout(df)

  /** Exact Jaccard via the native codegen expression (no UDF boundary);
    * bit-identical to Kernels.jaccardLongs. */
  private def jac(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)
  /** Exact-duplicate groups keyed on a content hash; shuffle carries
    * one 128-bit hash per row, never the content. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .filter(col("n") > 1)

  /** Prefix-fingerprint duplicate groups: docs sharing the md5 of their
    * first `k` whitespace tokens — the crawl-dedup shortcut for pages
    * that differ only in a mutable tail (timestamps, session ids,
    * trailing boilerplate). Same shuffle shape as [[exactGroups]]: one
    * narrow rowwise digest, one hash aggregate carrying a 128-bit hash
    * per row; docs shorter than k tokens fingerprint their whole text. */
  def prefixGroups(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"prefix length must be > 0, got $k")
    df.groupBy(md5(concat_ws(" ",
        slice(split(col(textCol), " "), 1, k)).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .filter(col("n") > 1)
  }

  /** Fuzzy near-dup pairs by EDIT DISTANCE within prefix blocks:
    * candidates share their first-`prefixK`-token fingerprint (the
    * crawl shape — same page head, mutated tail), and survivors have
    * full-text Levenshtein ≤ `maxDist`. Complements the set-based
    * Jaccard family: edit distance also catches reorder-free
    * character-level mutations (typos, template substitutions) that
    * token-set measures under-count.
    *
    * Scale shape: the block key is one rowwise digest; candidates form
    * a self-equi-join on it (pair volume bounded by block sizes, never
    * all-pairs), and Levenshtein is a codegen'd built-in evaluated only
    * inside blocks. Exact Levenshtein is O(len²) per pair — the block
    * bound is what makes that affordable; choose prefixK so blocks
    * stay small (larger k → tighter blocks → fewer candidates). */
  def levenshteinPairs(df: DataFrame, idCol: String, textCol: String,
      prefixK: Int, maxDist: Int): DataFrame = {
    require(prefixK > 0, s"prefix length must be > 0, got $prefixK")
    require(maxDist >= 0, s"max distance must be >= 0, got $maxDist")
    val key = md5(concat_ws(" ",
      slice(split(col(textCol), " "), 1, prefixK)).cast("binary"))
    val t = df.select(col(idCol).as("_ida"), col(textCol).as("_ta"), key.as("_k"))
    val u = df.select(col(idCol).as("_idb"), col(textCol).as("_tb"), key.as("_k"))
    t.join(u, "_k")
      .filter(col("_ida") < col("_idb"))
      .withColumn("dist", levenshtein(col("_ta"), col("_tb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("_ida").as("id1"), col("_idb").as("id2"), col("dist"))
  }

  /** Exact Jaccard ≥ threshold pairs from a pre-hashed shingle table
    * `(id, _grp, _h: sorted distinct Array[Long])` — the shared core of
    * `nearJaccardPairs` / `ngramJaccardPairs`.
    *
    * Shape: PPJoin-style prefix filtering under a FREQUENCY-ordered
    * canonical shingle order, then exact verification:
    *  1. one aggregate computes each shingle's document frequency per
    *     group; every doc orders its shingles rarest-first under the
    *     global order (df asc, hash asc);
    *  2. prefix-filter theorem: J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, so any
    *     qualifying pair must collide inside the first
    *     |A| − ⌈t·|A|⌉ + 1 shingles of BOTH docs under the shared
    *     order. Only those prefixes are indexed — rarest-first means
    *     hot shingles ("the", common 3-grams) almost never enter a
    *     prefix, which is what keeps the candidate join sub-quadratic
    *     on skewed corpora;
    *  3. candidates = prefix self-equi-join on (grp, shingle) with
    *     id1 < id2 and the exact length filter
    *     (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t), deduped — map-side + distinct
    *     in the broadcast posture; exactly-once emission at the first
    *     common prefix shingle (no distinct shuffle) in the chunked
    *     shuffle posture;
    *  4. exact verify: join the two hash arrays back (equi-shuffle on
    *     id; AQE broadcasts when small) and keep pairs with
    *     `Kernels.jaccardLongs ≥ t`.
    *
    * No broadcast of the corpus, no all-pairs stage — every step is an
    * equi-shuffle, hash aggregate, or per-doc window; candidate volume
    * tracks true-pair volume, not n². Empty shingle sets are excluded
    * (J(∅,·) is defined as 0 here — two empty docs are not duplicates;
    * DuckDB oracles are vacuously consistent because string_split never
    * returns an empty list). Requires threshold > 0: with t ≤ 0 the
    * prefix bound degenerates and every pair (including J=0 ones, which
    * this index join can never emit) would qualify.
    *
    * Join strategy is PINNED per regime, exactly like `minhashPairs`:
    * `broadcastJoins=true` (single-node / small-corpus default) puts an
    * explicit `broadcast()` on every build side (df table, candidate
    * index side, both verify doc sides) so a checkpoint-erased stat can
    * never flip a join to a skew-sensitive sort-merge mid-composite;
    * `broadcastJoins=false` is the 100 TB setting — the same joins
    * carry a SHUFFLE_HASH hint: equi-shuffles on (grp, shingle) / id,
    * never a sort, never a broadcast of corpus-sized sides. */
  private[api] def jaccardPairsFromHashes(hashed: DataFrame, threshold: Double,
      broadcastJoins: Boolean = true): DataFrame =
    // the hashed-doc table feeds FOUR plan branches (df aggregate,
    // prefix window, and both verify sides); an EAGER local checkpoint
    // materializes the shingle hashing exactly once — lazy would leave
    // the branches racing to compute the shared blocks in parallel
    // stages, each potentially running the full hashing
    jaccardPairsFromSized(pinnedSized(hashed), threshold, broadcastJoins)

  /** The pair pipeline BELOW the pin: `sized` must already be the
    * pinned (_id, _grp, _h, _sz) shingle table. Split out so the
    * adaptive ngram gate can hand its winning probe's pin straight in
    * instead of materializing the table a second time.
    * `prefixOpt`: an already-materialized prefix table in the exact
    * shape [[prefixTable]] would build for this posture (the gate hands
    * its pinned probe table in, so the mass measurement and the pair
    * run share ONE prefix construction). */
  private def jaccardPairsFromSized(sized: DataFrame, threshold: Double,
      broadcastJoins: Boolean, prefixOpt: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    val cand = jaccardCandStage(sized, threshold, pin,
      groupedCand = !broadcastJoins, prefixOpt = prefixOpt)
    val docs = sized.select(col("_id"), col("_h"))
    if (broadcastJoins)
      cand
        .join(pin(docs.select(col("_id").as("id1"), col("_h").as("_h1"))), "id1")
        .join(pin(docs.select(col("_id").as("id2"), col("_h").as("_h2"))), "id2")
        .withColumn("jaccard", jac(col("_h1"), col("_h2")))
        .filter(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    else
      // first join: build side = the BARE candidate pair stream
      // (bounded by the prefix-filter theorem: ∝ true pairs + n, never
      // n²) while the _h arrays stream through the probe side. Second
      // join: build side = the DOCS shard — per-partition memory
      // ∝ |corpus|/partitions · array size, the same bound as any scan
      // of the corpus itself. The r15 shape hinted the FIRST join's
      // result instead, whose build table held one full shingle array
      // per candidate pair (build ∝ candidates × array size — on a
      // duplicate-heavy corpus candidates ≫ docs, the wrong bound)
      cand.hint("shuffle_hash")
        .join(docs.select(col("_id").as("id1"), col("_h").as("_h1")), "id1")
        .join(docs.select(col("_id").as("id2"), col("_h").as("_h2"))
          .hint("shuffle_hash"), "id2")
        .withColumn("jaccard", jac(col("_h1"), col("_h2")))
        .filter(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
  }

  /** The PPJoin candidate stage (postings → df order → prefixes →
    * candidate self-join): shared by `jaccardPairsFromHashes` and the
    * scale-probe hook [[jaccardCandidatePairs]]. `sized` must carry
    * (_id, _grp, _h, _sz). */
  private def jaccardCandStage(sized: DataFrame, threshold: Double,
      pin: DataFrame => DataFrame, groupedCand: Boolean = false,
      prefixOpt: Option[DataFrame] = None): DataFrame = {
    val prefix = prefixOpt.getOrElse(
      prefixTable(sized, threshold, pin, withChunkCols = groupedCand))
    if (!groupedCand) {
      // broadcast posture: candidate self-join through a broadcast of
      // the prefix table — map-side, no shuffle of the probe side
      val a = prefix.select(col("_id").as("id1"), col("_grp"), col("_sz").as("_sz1"), col("_s"))
      val b = prefix.select(col("_id").as("id2"), col("_grp").as("_grp2"),
        col("_sz").as("_sz2"), col("_s").as("_s2"))
      a.join(pin(b), col("_s") === col("_s2") && col("_grp") === col("_grp2")
          && col("id1") < col("id2")
          && col("_sz2") >= col("_sz1") * threshold - 1e-9
          && col("_sz1") >= col("_sz2") * threshold - 1e-9)
        .select("id1", "id2").distinct()
    } else {
      // shuffle posture (100 TB): a CHUNKED self equi-join. The naive
      // shapes both serialize hot shingles — an equi-shuffle on
      // (grp, shingle) lands a whole posting bucket on ONE reducer, so
      // that task alone enumerates the bucket's O(n²) pairs (the r15
      // grouped enumeration had the same property, plus it copied the
      // collected group array once per emitted row across two Generate
      // operators — measured 3.0–3.9 s vs the broadcast twin's ~1 s on
      // the identical candidate set). Here each bucket is split into
      // ~⌈df/256⌉ chunks (capped at 1024) keyed INTO the join: side A
      // replicates each row to its own-and-higher target chunks, side B
      // keeps its own chunk, and the join key (grp, shingle, chunk)
      // spreads a hot bucket's enumeration over ~K²/2 independent
      // tasks. Orientation — cross-chunk pairs by chunk order,
      // same-chunk by id order — counts every unordered pair exactly
      // once (a doc's chunk is a pure function of its id, so a pair
      // can never appear under two chunk assignments).
      //
      // Chunk count derives from the shingle's DOCUMENT FREQUENCY,
      // which every prefix row already carries from its construction —
      // zero extra shuffles (true bucket sizes would cost two more
      // prefix-sized exchanges). df only over-estimates the prefix
      // bucket, so the error direction is harmless: extra EMPTY chunk
      // keys, never a missed pair. A-side replication is bounded by
      // bucketRows·df/(2·256) ≪ the bucket's pair-enumeration work.
      // df=1 rows can never pair and are dropped before the join.
      //
      // Emission is EXACTLY-ONCE, not distinct-deduped: a pair sharing
      // k prefix shingles is emitted only in the bucket of the
      // MINIMUM-HASH shingle its prefixes share — per raw collision
      // row, the native codegen merge scan `graft_min_common` over the
      // hash-sorted whole-prefix array each row carries answers "is MY
      // shingle that minimum?". The r15 grouped path emitted every
      // duplicate and paid a pair-stream distinct whose partial
      // aggregation was useless (a pair's duplicates land in DIFFERENT
      // shingle buckets, hence different partitions): measured ~2 s of
      // the 3.2 s candidate stage at sf0.1 (7.3 M raw → 1.66 M
      // distinct). The candidate SET is unchanged (row-count asserted
      // equal at sf0.1: 1 656 277).
      val p = prefix.filter(col("_df") >= 2)
        .withColumn("_nk",
          least(lit(1024L), ceil(col("_df") / lit(256.0))).cast("int"))
        .withColumn("_ck", pmod(xxhash64(col("_id")), col("_nk")).cast("int"))
      val a = p.select(col("_id").as("_ida"), col("_grp"), col("_sz").as("_sza"),
        col("_s"), col("_psh").as("_psha"), col("_ck").as("_ca"),
        explode(sequence(col("_ck"), col("_nk") - 1)).as("_cb"))
      val b = p.select(col("_id").as("_idb"), col("_grp").as("_grp2"),
        col("_sz").as("_szb"), col("_s").as("_s2"),
        col("_psh").as("_pshb"), col("_ck").as("_cb2"))
      a.join(b.hint("shuffle_hash"),
          col("_s") === col("_s2") && col("_grp") === col("_grp2")
            && col("_cb") === col("_cb2")
            && (col("_ca") < col("_cb2") || col("_ida") < col("_idb"))
            && col("_szb") >= col("_sza") * threshold - 1e-9
            && col("_sza") >= col("_szb") * threshold - 1e-9
            && call_function("graft_min_common",
              col("_psha"), col("_pshb")) === col("_s"))
        .select(least(col("_ida"), col("_idb")).as("id1"),
          greatest(col("_ida"), col("_idb")).as("id2"))
    }
  }

  /** Each doc's PPJoin prefix — the |X| − ⌈t·|X|⌉ + 1 rarest shingles
    * under the canonical (document frequency asc, hash asc) order —
    * as (_id, _grp, _sz, _s) rows, with TWO physical regimes:
    *
    * - SMALL SHINGLE UNIVERSE (the char-n-gram case: n-grams over a
    *   finite alphabet are a bounded set no matter the corpus size —
    *   sf0.1's 712k 3-gram postings collapse to 1,885 distinct
    *   shingles): the df table is collected ONCE via a bounded probe
    *   and each doc selects its prefix in a single narrow map-side
    *   pass — no posting⋈df join, no per-doc window sort, and the
    *   downstream index explode emits ONLY prefix rows (~30% of
    *   postings at t=0.7). The broadcast-join analogue, gated exactly
    *   like `connectedComponents`' union-find fast path: driver memory
    *   is bounded by `spark.graft.jaccard.localDfThreshold` distinct
    *   (group, shingle) entries (default 1M ≈ tens of MB; 0 disables).
    * - UNBOUNDED UNIVERSE (word tokens: vocabulary grows with the
    *   corpus — typos, ids, URLs): the distributed shape — posting⋈df
    *   equi-join, per-doc row_number window, prefix filter. The
    *   deciding probe costs one aggregate job, which this path was
    *   about to run anyway as the join's build side.
    *
    * Both regimes order by (df asc, hash asc) with the same 1e-9
    * ceil slack (float rounding may only LENGTHEN a prefix, never
    * shorten it), so they produce IDENTICAL prefixes — parity-asserted
    * in ApiParitySpec. */
  /** The bounded decide-and-deliver probe for a local df map
    * ([[LocalProbe]]): Some(rows) ⇒ the universe fits and the rows ARE
    * the df map; None ⇒ caller falls through to the distributed join
    * path. */
  private def collectDfIfSmall(dfreq: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
    LocalProbe.collectBounded(dfreq, dfreq.sparkSession.conf
      .get("spark.graft.jaccard.localDfThreshold", "1000000").toLong)

  /** Map-side prefix selection against a collected (grp, shingle)→df
    * table: emits (_id, _grp, _sz, _s, _df) prefix rows from `sized` in
    * one narrow pass — no posting⋈df join, no per-doc window. `_df` is
    * the shingle's document frequency under the same map (the chunked
    * candidate join derives its chunk count from it); `defaultDf` is
    * the df assumed for shingles ABSENT from the map (0 for probe docs
    * scored against an index-side df table, matching the window path's
    * left-join + coalesce(_df, 0)). */
  /** (grp -> shingle -> df) lookup from collected dfreq rows — shared
    * by the prefix construction and (containment) the container-side
    * chunk assignment, so ONE collected aggregate serves both sides
    * map-side. */
  private def dfMapByGrp(rows: Array[org.apache.spark.sql.Row])
      : Map[String, scala.collection.mutable.LongMap[Long]] = {
    def grpKey(v: Any): String = if (v == null) "\u0000" else v.toString
    rows.groupBy(r => grpKey(r.get(0))).map { case (g, rs) =>
      val m = new scala.collection.mutable.LongMap[Long](rs.length * 2)
      rs.foreach(r => m.update(r.getLong(1), r.getLong(2)))
      g -> m
    }
  }

  private def localPrefixRows(sized: DataFrame,
      rows: Array[org.apache.spark.sql.Row], threshold: Double,
      defaultDf: Long, withChunkCols: Boolean = false): DataFrame = {
    val byGrp = dfMapByGrp(rows)
    val bc = sized.sparkSession.sparkContext.broadcast(byGrp)
    def dfMap(grp: String) = bc.value.getOrElse(if (grp == null) "\u0000" else grp,
      scala.collection.mutable.LongMap.empty[Long])
    def prefixOf(dfm: scala.collection.mutable.LongMap[Long], h: Seq[Long]): Seq[Long] = {
      val sz = h.length
      val k = (sz - math.ceil(sz * threshold - 1e-9) + 1).toInt
      if (k >= sz) h
      else h.sortBy(s => (dfm.getOrElse(s, defaultDf), s)).take(k)
    }
    if (!withChunkCols) {
      // broadcast-posture shape: bare prefix shingles, no per-element
      // tuple allocation (the tuple+array spelling below measured
      // ~0.6 s extra on the ngram shingle table at sf0.1 for columns
      // that plan never reads)
      val prefUdf = udf((grp: String, h: Seq[Long]) =>
        prefixOf(dfMap(grp), h).toArray)
      sized.select(col("_id"), col("_grp"), col("_sz"),
        explode(prefUdf(col("_grp").cast("string"), col("_h"))).as("_s"))
    } else {
      // chunked shuffle-posture shape: each row also carries `_df`
      // (the shingle's document frequency — the chunk-count basis) and
      // `_psh` (the doc's whole prefix re-sorted ASCENDING BY HASH —
      // the min-common-shingle exactly-once test input)
      val prefUdf = udf((grp: String, h: Seq[Long]) => {
        val dfm = dfMap(grp)
        prefixOf(dfm, h).map(s => (s, dfm.getOrElse(s, defaultDf))).toArray
      })
      sized.withColumn("_pp", prefUdf(col("_grp").cast("string"), col("_h")))
        .select(col("_id"), col("_grp"), col("_sz"),
          sort_array(col("_pp._1")).as("_psh"),
          explode(col("_pp")).as("_p"))
        .select(col("_id"), col("_grp"), col("_sz"), col("_psh"),
          col("_p._1").as("_s"), col("_p._2").as("_df"))
    }
  }

  private def prefixTable(sized: DataFrame, threshold: Double,
      pin: DataFrame => DataFrame, withChunkCols: Boolean = false): DataFrame = {
    val posts = sized.select(col("_id"), col("_grp"), col("_sz"), explode(col("_h")).as("_s"))
    val dfreq = posts.groupBy("_grp", "_s").agg(count(lit(1)).as("_df"))
    collectDfIfSmall(dfreq) match {
      case Some(rows) =>
        // every shingle is in its own df table, so defaultDf is moot
        localPrefixRows(sized, rows, threshold, defaultDf = 1L, withChunkCols)
      case None =>
        // prefix length |X| − ⌈t·|X|⌉ + 1, with a 1e-9 slack so float
        // rounding can only LENGTHEN a prefix (safe) never shorten it
        val w = Window.partitionBy("_id").orderBy(col("_df").asc, col("_s").asc)
        // the prefix table feeds both sides of the candidate self-join,
        // but its exchange is shared via ReusedExchange within the
        // action and the post-shuffle window recompute is cheap codegen
        // — an explicit checkpoint here measured SLOWER on large
        // shingle tables (ngram)
        val rows = posts.join(pin(dfreq), Seq("_grp", "_s"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= col("_sz") - ceil(col("_sz") * threshold - 1e-9) + 1)
        if (!withChunkCols) rows.select("_id", "_grp", "_sz", "_s")
        else
          // `_psh` — the doc's whole prefix sorted ascending by hash,
          // for the chunked join's min-common-shingle test — rides a
          // second window over the SAME partition key as the
          // row_number, so it reuses that exchange and adds no shuffle
          rows.withColumn("_psh", sort_array(collect_list(col("_s"))
              .over(Window.partitionBy("_id"))))
            .select("_id", "_grp", "_sz", "_psh", "_s", "_df")
    }
  }

  /** Scale-probe hook: the CANDIDATE pairs the PPJoin prefix filter
    * admits for `nearJaccardPairs(df, …, threshold)` — before exact
    * verification. The engine's sub-quadraticity claim is that this
    * count tracks c·(true pairs + n), not n²; a spec generates a
    * corpus with a controlled duplicate rate and asserts exactly that.
    * The hashed table is checkpointed like the real path. */
  private[graft] def jaccardCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    // same per-regime pinning as jaccardPairsFromHashes: the 400k-doc
    // scale probe runs broadcastJoins=false — the 100 TB shuffle-hash
    // posture, where no corpus-sized side is ever built driver-side
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    val hashed = fanout(df).select(col(idCol).as("_id"),
      partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_h"))
    val sized = Checkpoints.pin(hashed.filter(size(col("_h")) > 0)
      .select(col("_id"), col("_grp"), col("_h"), size(col("_h")).cast("long").as("_sz")))
    jaccardCandStage(sized, threshold, pin, groupedCand = !broadcastJoins)
  }

  /** All pairs with token-set Jaccard ≥ threshold, exact — via the
    * inverted-index count join (`jaccardPairsFromHashes`): sub-quadratic
    * in practice and shuffle-only, vs the naive all-pairs self-join.
    * `minhashPairs` is the probabilistic twin when even the index join
    * is too hot. */
  def nearJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    // fanout BEFORE the hashing UDF: a single-partition scan would
    // otherwise run the whole corpus's token hashing on one core
    val hashed = fanout(df).select(col(idCol).as("_id"),
      partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_h"))
    jaccardPairsFromHashes(hashed, threshold, broadcastJoins)
  }

  /** Directed CONTAINMENT near-dup pairs: all (id1, id2) with
    * C(A→B) = |A∩B| / |A| ≥ threshold over distinct token sets, id1 ≠
    * id2 — the asymmetric complement of [[nearJaccardPairs]]. A short
    * doc quoted or templated wholly inside a long one scores ~1 here
    * while symmetric Jaccard dilutes it by the long doc's size; LLM
    * corpus dedup needs exactly this to catch quoted-inclusion /
    * superset duplicates.
    *
    * One-sided prefix filter (the containment form of the PPJoin
    * lemma): C(A→B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, so B must share one of
    * A's first |A| − ⌈t·|A|⌉ + 1 shingles under the canonical
    * rarest-first order — but unlike Jaccard there is NO prefix on the
    * container side (B may be arbitrarily large), so candidates come
    * from the CONTAINEE-prefix ⋈ FULL-postings equi-join on
    * (grp, shingle) — the PRETTI/set-containment-join shape. Size
    * filter: |B| ≥ t·|A| (since |A∩B| ≤ |B|); no upper bound on B.
    * Candidate volume is Σ_s prefA(s)·df(s), kept sub-quadratic by the
    * same rarest-first prefix selection as the Jaccard path. Exact
    * verification via the native codegen `graft_containment` merge.
    *
    * Join pinning follows `jaccardPairsFromHashes`: the broadcast
    * posture broadcasts the PREFIX side (the postings side is
    * corpus-sized and streams); `broadcastJoins=false` swaps in
    * SHUFFLE_HASH hints — equi-shuffles on (grp, shingle) / id only. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    val hashed = fanout(df).select(col(idCol).as("_id"),
      partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_h"))
    val sized = Checkpoints.pin(hashed.filter(size(col("_h")) > 0)
      .select(col("_id"), col("_grp"), col("_h"), size(col("_h")).cast("long").as("_sz")))
    val cand = containmentCandStage(sized, threshold, pin,
      chunked = !broadcastJoins)
    val docs = sized.select(col("_id"), col("_h"))
    val verified =
      if (broadcastJoins)
        cand
          .join(pin(docs.select(col("_id").as("id1"), col("_h").as("_h1"))), "id1")
          .join(pin(docs.select(col("_id").as("id2"), col("_h").as("_h2"))), "id2")
      else
        // same build-side discipline as the jaccard shuffle verify:
        // first join builds the BARE pair stream, second builds the
        // docs SHARD (per-partition memory ∝ corpus/partitions, never
        // ∝ candidates × arrays)
        cand.hint("shuffle_hash")
          .join(docs.select(col("_id").as("id1"), col("_h").as("_h1")), "id1")
          .join(docs.select(col("_id").as("id2"), col("_h").as("_h2"))
            .hint("shuffle_hash"), "id2")
    verified
      .withColumn("containment", call_function("graft_containment", col("_h1"), col("_h2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** The containment candidate stage (containee prefix ⋈ full
    * postings): shared by [[containmentPairs]] and the scale-probe
    * hook [[containmentCandidatePairs]].
    *
    * `chunked = true` is the no-broadcast posture's hot-bucket
    * defense, the containment analogue of the jaccard chunked join: a
    * shingle with a hot posting list would land its whole bucket on
    * ONE reducer of the (grp, shingle) equi-shuffle, serializing the
    * prefA(s)·df(s) enumeration. Both sides split the bucket into
    * ~⌈df/256⌉ chunks keyed into the join — the CONTAINEE prefix row
    * replicates to every chunk (replication = work/256, bounded) and
    * each container posting keeps its own id-hash chunk. Containment
    * pairs are DIRECTED, so there is no orientation halving and —
    * unlike the jaccard path — no min-common exactly-once rule: the
    * container side would have to carry its whole hash array per
    * POSTING row (Σ sz² volume — the exact blowup the jaccard verify
    * avoids), so multi-shingle duplicates are still resolved by the
    * `distinct`. Both sides share ONE document-frequency aggregate
    * (map-side broadcast lookup in the local-df regime, a pinned frame
    * joined into both sides in the distributed fallback), and df=1
    * postings — provably unpairable — drop before any replication or
    * shuffle. */
  private def containmentCandStage(sized: DataFrame, threshold: Double,
      pin: DataFrame => DataFrame, chunked: Boolean = false): DataFrame = {
    val posts = sized.select(col("_id").as("id2"), col("_grp"),
      col("_sz").as("_szb"), explode(col("_h")).as("_s"))
    if (!chunked) {
      val pref = prefixTable(sized, threshold, pin)
        .select(col("_id").as("id1"), col("_grp").as("_grpa"),
          col("_sz").as("_sza"), col("_s").as("_sa"))
      posts
        .join(pin(pref), col("_sa") === col("_s") && col("_grpa") === col("_grp")
          && col("id1") =!= col("id2")
          && col("_szb") >= col("_sza") * threshold - 1e-9)
        .select("id1", "id2").distinct()
    } else {
      def nk(df: Column): Column =
        least(lit(1024L), ceil(df / lit(256.0))).cast("int")
      // ONE document-frequency aggregate serves BOTH sides (r16: the
      // first cut re-aggregated the postings and paid a postings-wide
      // (grp, shingle) equi-join just to teach each container posting
      // its bucket's chunk count). In the local-df regime (bounded by
      // spark.graft.jaccard.localDfThreshold) the collected map is
      // broadcast once and BOTH the prefix construction and the
      // container chunk assignment are pure map-side projections; the
      // distributed fallback pins the aggregate once and equi-joins it
      // into both sides.
      val dfreq = posts.groupBy("_grp", "_s").agg(count(lit(1)).as("_df"))
      val (pref, cont) = collectDfIfSmall(dfreq) match {
        case Some(rows) =>
          val bc = sized.sparkSession.sparkContext.broadcast(dfMapByGrp(rows))
          val dfbUdf = udf((grp: String, sh: Long) =>
            bc.value.getOrElse(if (grp == null) "\u0000" else grp,
              scala.collection.mutable.LongMap.empty[Long]).getOrElse(sh, 1L))
          // the BARE prefix shape + a map-side df lookup: the
          // withChunkCols=true shape would also carry `_psh`, the
          // jaccard min-common input, which containment never reads —
          // and its sort_array sibling of the explode re-evaluates per
          // EXPLODED row (the 7.2 generator-sibling trap)
          (localPrefixRows(sized, rows, threshold, defaultDf = 1L)
              .withColumn("_df", dfbUdf(col("_grp").cast("string"), col("_s"))),
            posts.withColumn("_dfb",
              dfbUdf(col("_grp").cast("string"), col("_s"))))
        case None =>
          val pinned = Checkpoints.pin(dfreq)
          val w = Window.partitionBy("_id").orderBy(col("_df").asc, col("_s").asc)
          val prefPosts = sized.select(col("_id"), col("_grp"), col("_sz"),
            explode(col("_h")).as("_s"))
          val prefD = prefPosts.join(pin(pinned), Seq("_grp", "_s"))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= col("_sz") - ceil(col("_sz") * threshold - 1e-9) + 1)
            .select(col("_id"), col("_grp"), col("_sz"), col("_s"), col("_df"))
          (prefD, posts.join(pin(pinned.withColumnRenamed("_df", "_dfb")),
            Seq("_grp", "_s")))
      }
      // df = 1 rows can never cross-pair (the shingle occurs in one
      // posting only) — drop them BEFORE anything is replicated or
      // shuffled; on long-tail token corpora that is most of the
      // postings volume
      val a = pref.filter(col("_df") >= 2)
        .select(col("_id").as("id1"), col("_grp").as("_grpa"),
          col("_sz").as("_sza"), col("_s").as("_sa"),
          explode(sequence(lit(0), nk(col("_df")) - 1)).as("_cb"))
      val b = cont.filter(col("_dfb") >= 2)
        .withColumn("_cb2", pmod(xxhash64(col("id2")), nk(col("_dfb"))).cast("int"))
      b.join(pin(a), col("_sa") === col("_s") && col("_grpa") === col("_grp")
          && col("_cb") === col("_cb2")
          && col("id1") =!= col("id2")
          && col("_szb") >= col("_sza") * threshold - 1e-9)
        .select("id1", "id2").distinct()
    }
  }

  /** Scale-probe hook: the (contained, container) CANDIDATE pairs the
    * one-sided prefix filter admits for `containmentPairs(df, …,
    * threshold)` — before exact verification. The sub-quadraticity
    * claim is that this count tracks c·(true pairs + n), not n²; the
    * hashed table is checkpointed like the real path. */
  private[graft] def containmentCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    val hashed = fanout(df).select(col(idCol).as("_id"),
      partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_h"))
    val sized = Checkpoints.pin(hashed.filter(size(col("_h")) > 0)
      .select(col("_id"), col("_grp"), col("_h"), size(col("_h")).cast("long").as("_sz")))
    containmentCandStage(sized, threshold, pin, chunked = !broadcastJoins)
  }

  /** Incremental near-dup detection: all (index_id, probe_id) pairs
    * with token-set Jaccard ≥ threshold BETWEEN a new batch (probe) and
    * an existing corpus (index) — the production shape "dedup today's
    * crawl against the corpus" where re-running corpus-vs-itself would
    * redo almost all of yesterday's work.
    *
    * The asymmetric PPJoin: the canonical shingle order is (index
    * document frequency asc, hash asc), computed from the INDEX side
    * only — so it is a property of the corpus, stable as batches
    * arrive, and probe shingles unseen in the corpus order as df=0
    * (rarest: they cannot collide with any index prefix anyway). Each
    * side takes its own prefix |X| − ⌈t·|X|⌉ + 1 under that shared
    * order; the prefix-filter lemma (with α = max(⌈t|A|⌉, ⌈t|B|⌉) ≤
    * |A∩B|) guarantees every qualifying cross pair collides inside both
    * prefixes. Candidates come from the probe-prefix ⋈ index-prefix
    * equi-join on (grp, shingle) with the two-sided length filter, then
    * exact verification on the hash arrays.
    *
    * At scale the index-side postings/prefix table is computed once and
    * persisted (it is a pure function of the corpus); each new batch
    * pays only its own hashing + the candidate and verify equi-shuffles
    * — cost tracks the BATCH size, not the corpus size. Join pinning
    * follows `jaccardPairsFromHashes`: explicit broadcast by default,
    * SHUFFLE_HASH hints with `broadcastJoins=false`. */
  def jaccardPairsAgainstIndex(probe: DataFrame, index: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    def hashed(df: DataFrame): DataFrame = Checkpoints.pin(fanout(df)
      .select(col(idCol).as("_id"),
        partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
        Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_h"))
      .filter(size(col("_h")) > 0)
      .select(col("_id"), col("_grp"), col("_h"), size(col("_h")).cast("long").as("_sz")))
    val idx = hashed(index)
    val prb = hashed(probe)
    val idxPosts = idx.select(col("_id"), col("_grp"), col("_sz"), explode(col("_h")).as("_s"))
    val dfreq = idxPosts.groupBy("_grp", "_s").agg(count(lit(1)).as("_df"))
    // same two prefix regimes as `prefixTable`, under the INDEX-side
    // canonical order: probe shingles absent from the corpus have df 0
    // and sort first (the window path's left join + coalesce(_df, 0))
    val (ip, pp) = collectDfIfSmall(dfreq) match {
      case Some(rows) =>
        (localPrefixRows(idx, rows, threshold, defaultDf = 1L),
          localPrefixRows(prb, rows, threshold, defaultDf = 0L))
      case None =>
        def prefix(posts: DataFrame): DataFrame = {
          val w = Window.partitionBy("_id").orderBy(col("_df").asc, col("_s").asc)
          posts.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= col("_sz") - ceil(col("_sz") * threshold - 1e-9) + 1)
            .select("_id", "_grp", "_sz", "_s")
        }
        (prefix(idxPosts.join(pin(dfreq), Seq("_grp", "_s"))),
          prefix(prb
            .select(col("_id"), col("_grp"), col("_sz"), explode(col("_h")).as("_s"))
            .join(pin(dfreq), Seq("_grp", "_s"), "left")
            .withColumn("_df", coalesce(col("_df"), lit(0L)))))
    }
    val cand = pp.select(col("_id").as("probe_id"), col("_grp"),
        col("_sz").as("_szp"), col("_s"))
      .join(pin(ip.select(col("_id").as("index_id"), col("_grp").as("_grp2"),
          col("_sz").as("_szi"), col("_s").as("_s2"))),
        col("_s") === col("_s2") && col("_grp") === col("_grp2")
          && col("_szi") >= col("_szp") * threshold - 1e-9
          && col("_szp") >= col("_szi") * threshold - 1e-9)
      .select("index_id", "probe_id").distinct()
    cand
      .join(pin(idx.select(col("_id").as("index_id"), col("_h").as("_h1"))), "index_id")
      .join(pin(prb.select(col("_id").as("probe_id"), col("_h").as("_h2"))), "probe_id")
      .withColumn("jaccard", jac(col("_h1"), col("_h2")))
      .filter(col("jaccard") >= threshold)
      .select("index_id", "probe_id", "jaccard")
  }

  /** Scalable near-dup pairs: banded MinHash-LSH candidates, verified
    * with exact Jaccard inside buckets only. Probabilistic recall
    * 1-(1-j^rows)^bands at similarity j — the defaults (16 bands × 8
    * rows) give ≈0.947 at j=0.8 and ≥0.9996 at j=0.9. rows=8 (not 4)
    * keeps the S-curve steep: on duplicate-heavy corpora with high
    * ambient similarity, a flat curve (rows=4 admits 34% of j=0.4
    * pairs) floods the bucket join with sub-threshold candidates and
    * the "LSH" silently degenerates to all-pairs. The 100 TB path: one
    * shuffle by (band, bucket), O(n²) only within buckets.
    *
    * Join strategy is PINNED, not stats-derived: `broadcastJoins=true`
    * (the single-node / small-corpus default) puts an explicit
    * `broadcast()` on the bucket-join build side and both verify-join
    * doc sides, so a checkpoint or a stats miss can never flip the plan
    * to a skew-sensitive shuffle join (a silent flip measured 11 s →
    * 27 s on the same code). `broadcastJoins=false` is the 100 TB
    * setting: the same joins carry a SHUFFLE_HASH hint — an equi-
    * shuffle on (band, bucket) / id, never a sort, never a broadcast of
    * a corpus that no longer fits. With the plan pinned, the hashing
    * work is safely materialized once, eagerly, at call time instead
    * of re-running the token + signature UDFs per plan branch. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 8,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    // docs feeds both verify joins; sigs feeds both bucket-join sides —
    // checkpointing each makes the expensive UDFs (tokenHashes;
    // bands·rows splitmix rounds per token) run once, the pinned
    // strategy above makes losing their size estimates harmless, and
    // the fanout BEFORE the UDFs spreads the hashing across cores
    // instead of computing it inside a single-partition scan task
    val docs = Checkpoints.pin(fanout(df).select(col(idCol).as("_id"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_th")))
    val sigs = Checkpoints.pin(docs.select(col("_id"),
      Kernels.minhashBandsUdf(bands, rowsPerBand)(col("_th")).as("_sig")))
    val banded = sigs.select(col("_id"), col("_sig"),
      posexplode(col("_sig")).as(Seq("_band", "_bh")))
    val x = banded.select(col("_id").as("id1"), col("_sig").as("_sig1"),
      col("_band"), col("_bh"))
    val y = banded.select(col("_id").as("id2"), col("_sig").as("_sig2"),
      col("_band").as("_band2"), col("_bh").as("_bh2"))
    // A pair colliding in k bands would surface k times; instead of a
    // global `distinct` shuffle over the inflated pair stream, each side
    // carries its full signature and only the FIRST band where the two
    // signatures agree emits the pair — exact dedup, zero extra
    // shuffle. The raw collision stream is the hottest row count in
    // the pipeline (~20M rows for 5k docs at sf0.1), so the first-
    // agreement test is the native codegen FirstEqIndex (fused loop,
    // early exit) rather than an allocating zip_with lambda.
    val firstBand = call_function("graft_first_eq", col("_sig1"), col("_sig2"))
    val cand = x.join(pin(y), col("_band") === col("_band2") && col("_bh") === col("_bh2")
        && col("id1") < col("id2"))
      .filter(firstBand === col("_band") + 1)
      .select("id1", "id2")
    cand
      .join(pin(docs.select(col("_id").as("id1"), col("_th").as("_t1"))), "id1")
      .join(pin(docs.select(col("_id").as("id2"), col("_th").as("_t2"))), "id2")
      .withColumn("jaccard", jac(col("_t1"), col("_t2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Incremental MinHash-LSH: banded candidates BETWEEN a new batch
    * (probe) and an existing corpus (index), verified with exact
    * Jaccard — the probabilistic twin of `jaccardPairsAgainstIndex`
    * and the at-scale production shape: the corpus's banded signature
    * table is a pure function of the corpus (persist it once,
    * partitioned by (band, bucket)); each arriving batch pays only its
    * own hashing + one bucket equi-join sized by the BATCH. Recall per
    * pair is the same 1-(1-j^rows)^bands S-curve as `minhashPairs`;
    * the first-agreeing-band test (native `graft_first_eq`) dedups
    * multi-band collisions without a distinct shuffle. Join pinning
    * follows `minhashPairs`: broadcast by default (single-node /
    * small-batch), SHUFFLE_HASH hints with `broadcastJoins=false`. */
  def minhashPairsAgainstIndex(probe: DataFrame, index: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 8,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      val docs = Checkpoints.pin(fanout(df).select(col(idCol).as("_id"),
        Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_th")))
      val banded = docs.select(col("_id"),
          Kernels.minhashBandsUdf(bands, rowsPerBand)(col("_th")).as("_sig"))
        .select(col("_id"), col("_sig"), posexplode(col("_sig")).as(Seq("_band", "_bh")))
      (docs, banded)
    }
    val (idxDocs, idxBanded) = prep(index)
    val (prbDocs, prbBanded) = prep(probe)
    minhashProbeJoin(prbDocs, prbBanded, idxDocs, idxBanded, threshold, broadcastJoins)
  }

  /** The persistable index tables behind `minhashPairsAgainstIndex` —
    * both pure functions of the corpus, so at scale they are written
    * ONCE (sources/Writers.writeBucketed: `banded` bucketed by
    * (_band, _bh), `docs` by _id) and every arriving batch probes them
    * via [[minhashProbePreparedIndex]] with NO exchange on the index
    * side of any join — only the batch shuffles.
    *
    * Returns (docs, banded): docs = (_id, _th token hashes);
    * banded = (_id, _sig, _band, _bh), one row per (doc, band). The
    * docs frame is eagerly PINNED: banded derives from it, so without
    * the pin each returned frame's materialization — i.e. each of the
    * two table writes — re-ran the whole token-hashing pass (measured
    * on dedup_minhash_persisted, r21). The pin belongs to the caller's
    * scope; outside one, `Checkpoints.free(docs)` once BOTH tables are
    * written (freeing earlier breaks banded). */
  def minhashIndexTables(index: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 8): (DataFrame, DataFrame) = {
    val docs = Checkpoints.pin(fanout(index).select(col(idCol).as("_id"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_th")))
    val banded = docs.select(col("_id"),
        Kernels.minhashBandsUdf(bands, rowsPerBand)(col("_th")).as("_sig"))
      .select(col("_id"), col("_sig"), posexplode(col("_sig")).as(Seq("_band", "_bh")))
    (docs, banded)
  }

  /** Probe a PREPARED minhash index — `idxDocs`/`idxBanded` as produced
    * by [[minhashIndexTables]], typically round-tripped through
    * bucketed tables. Semantics identical to
    * `minhashPairsAgainstIndex` for the same (bands, rowsPerBand);
    * with `broadcastJoins=false` and the index side bucketed on its
    * join keys, the bucket join and the index verify join read the
    * index exchange-free. */
  def minhashProbePreparedIndex(probe: DataFrame, idxDocs: DataFrame,
      idxBanded: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 8,
      broadcastJoins: Boolean = true): DataFrame = Checkpoints.scope {
    val prbDocs = Checkpoints.pin(fanout(probe).select(col(idCol).as("_id"),
      Kernels.tokenHashesUdf(split(col(textCol), " ")).as("_th")))
    val prbBanded = prbDocs.select(col("_id"),
        Kernels.minhashBandsUdf(bands, rowsPerBand)(col("_th")).as("_sig"))
      .select(col("_id"), col("_sig"), posexplode(col("_sig")).as(Seq("_band", "_bh")))
    minhashProbeJoin(prbDocs, prbBanded, idxDocs, idxBanded, threshold, broadcastJoins)
  }

  /** Shared probe tail of the incremental minhash shapes: banded bucket
    * join (first-agreeing-band dedup via native `graft_first_eq`) +
    * exact verify, with the `minhashPairs` join-pinning regimes. */
  private def minhashProbeJoin(prbDocs: DataFrame, prbBanded: DataFrame,
      idxDocs: DataFrame, idxBanded: DataFrame, threshold: Double,
      broadcastJoins: Boolean): DataFrame = {
    def pin(side: DataFrame): DataFrame =
      if (broadcastJoins) broadcast(side) else side.hint("shuffle_hash")
    val firstBand = call_function("graft_first_eq", col("_sigP"), col("_sigI"))
    val cand = prbBanded
      .select(col("_id").as("probe_id"), col("_sig").as("_sigP"), col("_band"), col("_bh"))
      .join(pin(idxBanded.select(col("_id").as("index_id"), col("_sig").as("_sigI"),
          col("_band").as("_bandI"), col("_bh").as("_bhI"))),
        col("_band") === col("_bandI") && col("_bh") === col("_bhI"))
      .filter(firstBand === col("_band") + 1)
      .select("index_id", "probe_id")
    cand
      .join(pin(idxDocs.select(col("_id").as("index_id"), col("_th").as("_t1"))), "index_id")
      .join(pin(prbDocs.select(col("_id").as("probe_id"), col("_th").as("_t2"))), "probe_id")
      .withColumn("jaccard", jac(col("_t1"), col("_t2")))
      .filter(col("jaccard") >= threshold)
      .select("index_id", "probe_id", "jaccard")
  }

  /** Driver union-find over a collected edge list — the exact same
    * min-reachable-label contract as the distributed loop, for graphs
    * small enough to fit the driver (id + label only, never content).
    * Union-by-min keeps every root the minimum member of its set, so
    * `find` directly yields the contract label; path halving keeps
    * lookups near-constant. Output is sorted by id for determinism. */
  private def localUnionFind(rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      spark: SparkSession, parts: Int): DataFrame = {
    val parent = new java.util.HashMap[Any, Any](rows.length * 2)
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val g = parent.getOrDefault(p, p)
        parent.put(x, g)
        x = g
        p = parent.getOrDefault(x, x)
      }
      x
    }
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[Comparable[Any]]) < 0
    val seen = new java.util.LinkedHashSet[Any]()
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      seen.add(a); seen.add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val members: Array[AnyRef] = seen.toArray
    java.util.Arrays.sort(members, new java.util.Comparator[AnyRef] {
      def compare(x: AnyRef, y: AnyRef): Int =
        x.asInstanceOf[Comparable[AnyRef]].compareTo(y)
    })
    val out = members.map(m => org.apache.spark.sql.Row(m, find(m)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    val np = math.max(1, math.min(parts, 1 + out.length / 65536))
    spark.createDataFrame(
      spark.sparkContext.parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(out), np),
      schema)
  }

  /** Connected components over an undirected pair graph (id1, id2) —
    * the cluster-resolution step after near-dup pair generation: every
    * document gets the MINIMUM id reachable through duplicate pairs as
    * its cluster id, so "keep one doc per cluster" is a filter on
    * id == cluster.
    *
    * Min-label propagation PLUS pointer halving, with a driver-side
    * convergence loop. Each round: (1) propagate — every node takes
    * the min of its own and its neighbors' labels (one equi-join + one
    * hash aggregate over the pre-partitioned edge list); (2) shortcut —
    * each node follows its refreshed label's OWN previous label
    * (`L'(v) = L_prev(merged(v))`, one more equi-join on the small
    * label table). The shortcut contracts label chains geometrically
    * (reach ~doubles per round), so rounds needed are O(log diameter),
    * not O(diameter) — the round complexity of large-star/small-star
    * contraction with a strictly simpler per-round shape. The fixpoint
    * is unchanged: labels only ever DECREASE and stay inside their
    * component (L(x) ≤ x always, and L(x) is reachable from x, so the
    * composition is still a reachable node), and an unchanged Σlabel
    * forces both steps to have been the identity, which forces
    * component-constant labels = the reachable minimum.
    *
    * An eager checkpoint ([[Checkpoints.pin]] — local blocks by
    * default, reliable files under `spark.graft.checkpoint.reliable`)
    * cuts the growing lineage each round, and the
    * convergence probe rides the SAME action via `observe` — Σlabel is
    * strictly monotone until the fixpoint, and the checkpoint job's
    * CollectMetrics yields it for free: exactly ONE job per round, no
    * separate driver aggregate.
    *
    * Convergence is a hard contract: exiting the loop early means
    * labels are NOT yet the reachable minimum. Rather than return
    * silently wrong cluster ids, the non-converged exit throws (set
    * `strict = false` to get the partial labels plus a warning — e.g.
    * for exploratory runs). With pointer halving the default budget
    * covers diameters beyond 2^20 — any practical graph.
    *
    * Edge lists at or below `spark.graft.graph.localEdgeThreshold`
    * (default 2M edges, the GraphOps fast-path budget) skip the loop
    * entirely for a driver union-find over the collected (id1, id2)
    * pairs — identical labels, one job
    * instead of one per round. This is the broadcast-join analogue:
    * pick the local plan when the input provably fits, keep the
    * shuffle plan for when it doesn't. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      strict: Boolean = true): DataFrame = Checkpoints.scope {
    val spark = pairs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // materialize the input pairs ONCE before fanning out: `sym` below
    // references the edge list twice (forward + swapped), and two
    // stages racing to compute a shared lazy upstream (e.g. the whole
    // near-dup verify pipeline) can each run it in full — measured as
    // a 10 s → 37 s swing on dedup_clusters depending on stage timing
    val edges = Checkpoints.pin(
      pairs.select(col("id1").as("a"), col("id2").as("b")))
    // SMALL-GRAPH FAST PATH — the broadcast-join analogue for CC: a
    // near-dup pair graph is usually orders of magnitude smaller than
    // the corpus that produced it, and below this edge budget a driver
    // union-find beats the iterative loop's per-round job latency by an
    // order of magnitude (and is immune to ambient-load stragglers).
    // ONE bounded action decides AND delivers (LocalProbe): the probe
    // reads already-checkpointed blocks (no pair-pipeline re-run).
    // Driver memory is bounded by the conf: ~2M Row(id, id) ≈
    // tens-of-MB at the default — raise it only with driver heap to
    // match. Set spark.graft.graph.localEdgeThreshold=0 to force the
    // distributed loop (tests do, and a 100 TB graph exceeds any sane
    // threshold).
    val head = LocalProbe.collectBounded(edges, GraphLocal.maxEdges(spark))
    if (head.isDefined) localUnionFind(head.get, edges.schema("a").dataType, spark, n)
    else {
      // hash-partition the (static) edge list by the probe key ONCE; each
      // round's join then only shuffles the much smaller label table
      val sym = Checkpoints.pin(edges.union(edges.select(col("b").as("a"), col("a").as("b")))
        .repartition(n, col("b")))
      // the eager checkpoint IS the round's one action; Σlabel rides it
      // as an observed metric instead of costing a second job. The sum is
      // taken as decimal(38,0), not long: labels are node ids, and a raw
      // i64 sum over billions of large ids could wrap, silently breaking
      // the strict-monotonicity argument the early-exit relies on.
      def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
        val obs = org.apache.spark.sql.Observation()
        val ck = Checkpoints.pin(
          df.observe(obs, coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("lsum")))
        (ck, obs.get("lsum").asInstanceOf[java.math.BigDecimal])
      }
      // TEST HOOK — simulate executor loss / memory-pressure eviction:
      // with spark.graft.cc.testEvictEachRound=true every round drops ALL
      // persisted blocks after its checkpoint. In the reliable posture
      // the loop still converges (data lives in checkpoint FILES, not
      // blocks); in the local posture the next round's read of an evicted
      // localCheckpoint block fails unrecoverably — exactly the 100 TB
      // failure mode the conf exists to close. CheckpointPostureSpec
      // asserts both sides of that contrast.
      val evictEachRound =
        spark.conf.get("spark.graft.cc.testEvictEachRound", "false").toBoolean
      def maybeEvict(): Unit = if (evictEachRound)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      // round 1 needs no join: labels are the ids themselves, so the
      // neighbor-min is a single aggregate over the edge list
      var (labels, prevSum) = checkpointWithSum(sym.groupBy(col("b"))
        .agg(least(min(col("a")), col("b")).as("label"))
        .select(col("b").as("id"), col("label")))
      maybeEvict()
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val prop = sym.join(labels.withColumnRenamed("id", "b"), "b")
          .select(col("a").as("id"), col("label"))
        val merged = labels.union(prop)
          .groupBy("id").agg(min(col("label")).as("label"))
        // pointer halving: look the fresh label up in the PREVIOUS
        // round's (already checkpointed) table — L_prev(x) <= x keeps the
        // decrease monotone, and chains contract geometrically. Label
        // values are node ids, so the lookup always hits; the left join +
        // coalesce is belt-and-braces for the first round's self-labels.
        // ADAPTIVE: dense near-dup graphs (diameter ~2-4) converge on
        // plain propagation before the shortcut could help, so its two
        // extra exchanges only start after round 3 — by then the graph
        // has demonstrated real diameter and the log-round contraction
        // is what bounds the loop.
        val short =
          if (i < 3) merged
          else merged
            .join(labels.select(col("id").as("_lid"), col("label").as("_ll")),
              col("label") === col("_lid"), "left")
            .select(col("id"), coalesce(col("_ll"), col("label")).as("label"))
        val (next, s) = checkpointWithSum(short)
        // free the superseded round's blocks (and files, in the reliable
        // posture) — a long loop would otherwise pin every round's labels
        Checkpoints.free(labels)
        labels = next
        maybeEvict()
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        i += 1
      }
      if (!converged) {
        val msg = s"connectedComponents did not converge in $maxIter rounds: " +
          "a duplicate chain is longer than maxIter hops, so labels are not yet " +
          "the reachable minimum. Raise maxIter, or for extreme-diameter graphs " +
          "use large-star/small-star alternation (O(log n) rounds)."
        if (strict) throw new IllegalStateException(msg)
        else org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(msg)
      }
      labels
    }
  }

  /** Character n-gram (shingle) Jaccard near-dup pairs — robust to
    * token-boundary edits where word-level Jaccard is not. Shingles are
    * hashed once per row (over Unicode code points, not UTF-16 units);
    * pairs come from the same inverted-index count join as
    * `nearJaccardPairs`. Sub-n-char docs have no shingles and are
    * excluded (J(∅,·) = 0), mirrored by the oracle's `len(gs) > 0`.
    *
    * THE GRAM UNIVERSE MUST OUTGROW THE CORPUS, AND THE ENGINE NOW
    * ENFORCES IT. The prefix filter is sub-quadratic only while most
    * grams are rare; a small n on a large corpus SATURATES the
    * universe (every gram hot, every doc ~half-similar to every
    * other) and candidate mass goes ∝ corpus² — no exact algorithm
    * avoids examining it once ambient similarity crowds the
    * threshold. Measured (BENCH_SCALE10_r16.json): at 10× sf0.1's
    * corpus, n=3 (universe pinned at ~1.8k grams) grows 38–46× in
    * wall time while n=5 (universe ≫ corpus) grows 2.1× with 10× the
    * output pairs.
    *
    * ADAPTIVE ESCAPE HATCH (default on): before enumerating
    * candidates, ONE bounded aggregate measures the prefix-bucket
    * pair mass Σ_b |b|(|b|−1)/2 — an UPPER BOUND on the raw candidate
    * pairs the join would emit (the join's size-ratio filter is not
    * applied, so the gate can only escalate EARLIER, never later; the
    * measured prefix table is pinned and handed straight to the pair
    * pipeline, so the probe costs one materialization of work the run
    * needed anyway). While the mass exceeds
    * `maxCandPerDoc` per surviving doc, the shingle size escalates by
    * 2 (n → n+2 → … ≤ `maxN`), re-measuring each step; every
    * escalation logs the measured evidence. The decision is a pure
    * function of corpus statistics — deterministic, no timing
    * involved. Fixture calibration (tools/NgramScaleProbe, n=3,
    * t=0.7): sf0.001/0.01/0.1 measure 535/593/5 743 candidates per
    * doc and the 10×-growth baseline 17 745 — all under the 32 768
    * default, so results at test scale are bit-identical to the fixed
    * n; the 10× corpus measures 103 375/doc and escalates to n=5,
    * restoring ~linear growth. NOTE the similarity definition moves
    * with n: escalation trades gram granularity for tractability on
    * corpora where the requested n is degenerate (ambient Jaccard
    * near the threshold — the n=3 answer set there is itself ∝
    * corpus² and arguably meaningless as a near-DUP set). Pass
    * `autoEscalate = false` for strict fixed-n semantics, or use the
    * probabilistic [[minhashPairs]]. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, partitionCol: Option[String] = None,
      broadcastJoins: Boolean = true, autoEscalate: Boolean = true,
      maxCandPerDoc: Long = 32768L, maxN: Int = 11): DataFrame = Checkpoints.scope {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    // validate BEFORE any Spark job: an invalid threshold must throw
    // without hashing the corpus or pinning checkpoints (the gate loop
    // below runs real jobs; jaccardPairsFromSized's own require fires
    // too late for this entry point and would leak the winner pin)
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    // a large requested n is always legal (the old contract); the cap
    // only bounds ESCALATION above it
    val capN = math.max(maxN, n)
    def hashedAt(g: Int): DataFrame = fanout(df).select(col(idCol).as("_id"),
      partitionCol.map(col).getOrElse(lit(0)).as("_grp"),
      Kernels.charNgramHashesUdf(g)(col(textCol)).as("_h"))
    val log = org.slf4j.LoggerFactory.getLogger(Dedup.getClass)
    var g = n
    // the winning probe's PINNED shingle AND prefix tables are handed
    // straight to the below-the-pin pair pipeline — the corpus is
    // hashed and prefix-selected ONCE per examined n, never recomputed
    // for the real run (r17 shipped the gate re-deriving posting/df/
    // prefix work it had just measured: +3.1 s on an inert fixture
    // key; the mass is now a bucket-size rollup of the pair pipeline's
    // OWN prefix table).
    var winner: DataFrame = null
    var winnerPrefix: DataFrame = null
    val pinSide: DataFrame => DataFrame =
      if (broadcastJoins) broadcast else _.hint("shuffle_hash")
    if (autoEscalate) {
      var decided = false
      while (!decided) {
        val sized = pinnedSized(hashedAt(g))
        val prefix = Checkpoints.pin(
          prefixTable(sized, threshold, pinSide, withChunkCols = !broadcastJoins))
        val (docs, mass) = prefixPairMass(sized, prefix)
        val budget = maxCandPerDoc.toDouble * docs
        if (docs == 0L || mass <= budget) {
          winner = sized; winnerPrefix = prefix; decided = true
        } else if (g + 2 > capN) {
          log.warn(s"ngramJaccardPairs: prefix pair mass ${mass.toLong} " +
            s"exceeds budget ${budget.toLong} ($maxCandPerDoc/doc x $docs docs) " +
            s"at n=$g but maxN=$capN allows no further escalation - " +
            "proceeding in the quadratic regime; consider minhashPairs")
          winner = sized; winnerPrefix = prefix; decided = true
        } else {
          log.warn(s"ngramJaccardPairs: char-$g-gram universe is saturated " +
            s"(prefix pair mass ${mass.toLong} > budget ${budget.toLong} = " +
            s"$maxCandPerDoc/doc x $docs docs) - escalating to n=${g + 2}")
          Checkpoints.free(prefix)
          Checkpoints.free(sized)
          g += 2
        }
      }
    }
    if (winner != null)
      jaccardPairsFromSized(winner, threshold, broadcastJoins, Some(winnerPrefix))
    else jaccardPairsFromHashes(hashedAt(g), threshold, broadcastJoins)
  }

  private def pinnedSized(hashed: DataFrame): DataFrame =
    Checkpoints.pin(hashed.filter(size(col("_h")) > 0)
      .select(col("_id"), col("_grp"), col("_h"), size(col("_h")).cast("long").as("_sz")))

  /** The saturation evidence [[ngramJaccardPairs]]'s adaptive gate
    * decides on: Σ over prefix buckets of |b|(|b|−1)/2, plus the
    * surviving doc count. This is an UPPER BOUND on the raw candidate
    * pairs the join would enumerate (the join condition additionally
    * applies the size-ratio filter t·|A| ≤ |B| ≤ |A|/t, which the
    * bucket mass ignores) — the error direction only ever escalates
    * EARLIER, never later. Cost: one count of the pinned shingle table
    * plus one scalar aggregate over the pinned PREFIX table — the same
    * prefix table the pair pipeline consumes, so the measurement rolls
    * up work the run needed anyway; never enumerates pairs, never
    * rebuilds postings. */
  private def prefixPairMass(sized: DataFrame, prefix: DataFrame): (Long, Double) = {
    val docs = sized.count()
    val mass = if (docs == 0L) 0.0 else
      prefix.groupBy("_grp", "_s").agg(count(lit(1)).as("_n"))
        .agg(coalesce(sum(col("_n") * (col("_n") - 1) / 2), lit(0.0)))
        .collect()(0).getDouble(0)
    (docs, mass)
  }

  /** SimHash near-dup pairs: 64-bit per-doc fingerprint, candidate
    * generation by banded bucket-join (pigeonhole guarantees zero false
    * negatives for hamming < bands), then an exact Hamming filter.
    * State per row is ONE i64 — the cheapest scalable near-dup
    * signature; at 100 TB the (band, chunk) join replaces the O(n²)
    * self-join entirely. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    val docs = fanout(df).select(col(idCol).as("_id"),
      Kernels.simhashUdf(Kernels.tokenHashesUdf(split(col(textCol), " "))).as("_sh"))
    val banded = docs.select(col("_id"), col("_sh"),
      posexplode(Kernels.simhashChunksUdf(bands)(col("_sh"))).as(Seq("_cix", "_chunk")))
    val x = banded.select(col("_id").as("id1"), col("_sh").as("_sh1"),
      col("_cix"), col("_chunk"))
    val y = banded.select(col("_id").as("id2"), col("_sh").as("_sh2"),
      col("_cix").as("_cix2"), col("_chunk").as("_chunk2"))
    // Pairs matching in several chunks dedup by keeping only the first
    // agreeing position — and "chunk b agrees" is just "the b-th bit
    // slice of sh1 XOR sh2 is zero", so the first-agreement index is a
    // when-chain of shift/mask tests on ONE xor: pure codegen integer
    // ops per collision row, no per-row chunk arrays, no lambda.
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val xor = col("_sh1").bitwiseXOR(col("_sh2"))
    val firstChunk = (0 until bands).reverse.foldLeft(lit(0): Column) { (acc, b) =>
      when(shiftrightunsigned(xor, b * width).bitwiseAND(lit(mask)) === 0, b + 1)
        .otherwise(acc)
    }
    x.join(y, col("_chunk") === col("_chunk2") && col("id1") < col("id2"))
      .filter(firstChunk === col("_cix") + 1)
      .withColumn("hamming", Kernels.hammingUdf(col("_sh1"), col("_sh2")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming"))
  }
}
