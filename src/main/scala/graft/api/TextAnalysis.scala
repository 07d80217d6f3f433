package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object TextAnalysis {
  /** Per-doc quality signals: token-type ratio, average token length,
    * stopword ratio, BPE-ish size estimate (chars/4 — the standard
    * subword approximation), vowel density. All ratios of exact
    * integers → engine-portable. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    val sw = stopwords.map(w => s"'$w'").mkString(", ")
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("n_distinct"),
      expr(s"size(filter(split($textCol, ' '), x -> x IN ($sw)))").cast("long").as("n_stop"),
      length(regexp_replace(col(textCol), "[^aeiou]", "")).cast("long").as("n_vowels"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("bpe_est", ceil(col("n_chars") / lit(4.0)).cast("long"))
  }

  /** Unigram-profile language ID: score(doc, lang) = Σ over doc token
    * occurrences of that token's frequency in lang's corpus slice;
    * prediction = argmax. Integer scores → deterministic ranking. The
    * profile is itself a DataFrame, so at scale it is just another
    * (broadcastable) aggregate. */
  def languageId(df: DataFrame, idCol: String, textCol: String, langCol: String): DataFrame = {
    val tok = df.select(col(idCol), col(langCol),
      explode(split(col(textCol), " ")).as("_token"))
    val profile = tok.groupBy(col(langCol).as("_plang"), col("_token"))
      .agg(count(lit(1)).as("_cnt"))
    val scores = tok.join(broadcast(profile), "_token")
      .groupBy(col(idCol), col(langCol), col("_plang"))
      .agg(sum(col("_cnt")).as("score"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("_plang").asc)
    scores.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col(langCol), col("_plang").as("pred_lang"),
        (col(langCol) === col("_plang")).cast("int").as("correct"),
        col("score"))
  }

  /** Per-(doc, token) raw term frequency plus doc length — the shared
    * first aggregate of tfidf / bm25. One explode + one groupBy with
    * map-side partial aggregation; shuffle ∝ distinct (doc, token). */
  // NOTE (r22, measured): a doc-keyed Fanout.byKey spread here — hash
  // repartition on idCol feeding the explode, with groupBy(id, token)
  // and the per-doc window reusing the clustering — benched SLOWER on
  // every consumer (tfidf 0.55→0.92 s, keywords 0.99→1.14, bm25
  // 0.52→0.55, and pipeline_end_to_end regressed with it): at this
  // corpus the explode+partial-agg work is lighter than the extra
  // exchange + AQE replan it buys. Reverted; novelty_ngrams (heavier
  // per-row work) is the one keyed-spread keeper.
  private def termCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(idCol)))

  /** TF-IDF term weighting: tfidf(d, t) = tf · ln(N / df_t).
    *
    * Scale shape: document frequency is ONE aggregate over the term
    * table (shuffle ∝ vocabulary); N is a broadcast scalar; the join
    * back to the term table is an equi-join on token that AQE
    * broadcasts while the vocabulary is small. No driver-side state. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = termCounts(df, idCol, textCol)
    val dfreq = tc.groupBy("token").agg(count(lit(1)).as("dft"))
    val n = df.agg(count(lit(1)).as("_n"))
    tc.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("_n").cast("double") / col("dft").cast("double")))
      .select(col(idCol), col("token"), col("tf"), col("dft"), col("tfidf"))
  }

  /** Per-document top-k keywords by TF-IDF (ties break on the token) —
    * the summarization/tagging step after term weighting. The weight is
    * pre-rounded (4 dp) so rank ties cannot straddle a float ulp
    * between engines; the `row_number() <= k` filter plans as the
    * bounded-heap TopKPerGroup operator under `GraftExtensions`. */
  def topKeywords(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("token").asc)
    tfidf(df, idCol, textCol)
      .withColumn("tfidf", Canon.r4(col("tfidf")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(idCol), col("token"), col("tfidf"), col("rn"))
  }

  /** Okapi BM25 term weighting with the standard k1/b defaults:
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
    * score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * Same one-aggregate-per-statistic shape as `tfidf`. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tc = termCounts(df, idCol, textCol)
    val dfreq = tc.groupBy("token").agg(count(lit(1)).as("dft"))
    // exact integer sum, ONE division — engines must agree bitwise on
    // avgdl, and incremental double averaging is accumulation-order-
    // dependent while Σlong/len is not
    val stats = df.agg(count(lit(1)).as("_n"))
      .crossJoin(broadcast(tc.select(col(idCol), col("dl")).distinct()
        .agg((sum(col("dl")).cast("double") / count(lit(1))).as("_avgdl"))))
    val idf = log(lit(1.0) +
      (col("_n").cast("double") - col("dft") + lit(0.5)) / (col("dft").cast("double") + lit(0.5)))
    val norm = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("_avgdl")))
    tc.join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .withColumn("bm25", idf * norm)
      .select(col(idCol), col("token"), col("tf"), col("dft"), col("bm25"))
  }

  /** Quality gate: keep rows whose score is at or above the p-quantile
    * of their group — "top 25% per source" style data selection. The
    * per-group quantile (exact interpolated percentile, matching SQL
    * quantile_cont, via the bounded-state histogram form
    * [[StatsOps.binnedPercentiles]]) is broadcast-joined back. */
  def qualityFilter(df: DataFrame, scoreCol: String, groupCol: String,
      p: Double): DataFrame = {
    val cuts = StatsOps.binnedPercentiles(df, groupCol, col(scoreCol),
      Seq("_cut" -> p))
    df.join(broadcast(cuts), groupCol)
      .filter(col(scoreCol) >= col("_cut"))
      .drop("_cut")
  }

  /** Unigram language-model score per document: the mean log
    * probability of the doc's tokens under the corpus's own unigram
    * distribution — the cheap stand-in for an LM-perplexity quality
    * filter (template spam and gibberish score low, fluent text high).
    * score(d) = (Σ_t tf_{d,t}·ln(cnt_t) − n_d·ln(total)) / n_d.
    *
    * Scale shape: the unigram table is ONE aggregate over the term
    * counts (shuffle ∝ vocabulary), the total is a broadcast scalar,
    * and the join back is the same vocabulary equi-join as [[tfidf]].
    * No driver state. Returns (idCol, n_tok, logprob — unrounded). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val cnts = tc.groupBy("token").agg(sum(col("tf")).as("_ct"))
    val tot = tc.agg(sum(col("tf")).as("_total"))
    tc.join(cnts, "token")
      .groupBy(col(idCol))
      .agg(sum(col("tf").cast("double") * log(col("_ct").cast("double"))).as("_s"),
        sum(col("tf")).as("n_tok"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("n_tok"),
        ((col("_s") - col("n_tok").cast("double") * log(col("_total").cast("double")))
          / col("n_tok").cast("double")).as("logprob"))
  }

  /** Bigram language-model score per document: the mean add-1-smoothed
    * conditional log probability ln((c(w₁w₂)+1)/(c(w₁)+|V|)) of the
    * doc's token transitions under the corpus's own bigram counts —
    * one step up the CCNet-style perplexity-filter ladder from
    * [[unigramLogProb]] (word-salad scores low even when its unigrams
    * are common; fluent n-gram structure scores high).
    *
    * Scale shape: bigrams come from ONE per-doc lag-window pass (the
    * same doc-keyed shuffle every per-doc text op pays); bigram and
    * unigram count tables are hash aggregates ∝ (bigram/unigram)
    * vocabulary; |V| is a broadcast scalar; scoring joins are
    * vocabulary equi-joins. No driver state. Returns
    * (idCol, n_bigrams, avg_logprob — unrounded, same emission
    * contract as [[unigramLogProb]]). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("_id"),
      split(col(textCol), " ").as("_t"))
    val tok = toks.select(col("_id"), explode(col("_t")).as("_w"))
    // adjacent bigrams ROWWISE off the token array (r21) — the former
    // posexplode + per-doc lag window paid a doc-keyed exchange + sort
    // just to pair each token with its successor; the array transform
    // emits the identical (w_i, w_{i+1}) pairs map-side (the
    // cooccurrencePmi shape at window = 1)
    val big = toks.select(col("_id"), explode(expr(
        "filter(transform(_t, (t, i) -> struct(t AS _w1, " +
          "try_element_at(_t, i + 2) AS _w2)), p -> p._w2 IS NOT NULL)"))
        .as("_p"))
      .select(col("_id"), col("_p._w1").as("_w1"), col("_p._w2").as("_w2"))
    val bc = big.groupBy("_w1", "_w2").agg(count(lit(1)).as("_cb"))
    val uc = tok.groupBy(col("_w").as("_w1")).agg(count(lit(1)).as("_cu"))
    val v = tok.agg(countDistinct(col("_w")).as("_vsz"))
    big.join(bc, Seq("_w1", "_w2")).join(uc, Seq("_w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(log((col("_cb") + lit(1.0)) / (col("_cu") + col("_vsz"))))
          / count(lit(1))).as("avg_logprob"))
      .withColumnRenamed("_id", idCol)
  }

  /** Sliding n-grams over any array column, elements joined with
    * `sep`; arrays shorter than n yield an empty array. Shared by the
    * word-gram operators here and the event-path miner. Pure codegen
    * (transform/slice/concat_ws). */
  /** Directed word co-occurrence with PMI over a forward window of
    * `window` tokens — the word2vec / PMI-matrix input every
    * embedding-training pipeline computes from its corpus: pairs
    * (w, w₊ₖ), k ≤ window, counted corpus-wide, scored
    * pmi = ln(c₁₂·N / (cl·cr)) against the pair-space margins
    * (cl = pairs with that left word, cr = right). Only pairs with
    * c₁₂ ≥ `minCount` survive (the standard sparsity cut).
    *
    * Engine-portable: every count is an exact integer, each factor is
    * cast to double BEFORE the multiply (an int64 product c₁₂·N or
    * cl·cr would silently wrap past 2⁶³ on a web-scale corpus under
    * non-ANSI Spark while DuckDB promotes), the ln sees the identical
    * double on both sides, and the result is pre-rounded. Counts
    * themselves stay ≤ 2⁵³ so the double cast is exact per factor.
    *
    * Scale shape: pair generation is a ROWWISE array transform (no
    * window function, no per-doc shuffle); counts are one hash
    * aggregate ∝ distinct pairs; margins fold from the PAIR table
    * (rows ∝ vocab², in practice ≪ corpus) — the corpus is scanned
    * once. */
  def cooccurrencePmi(df: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L): DataFrame = {
    require(window >= 1 && window <= 8, s"window must be in [1,8], got $window")
    val pairCols = (1 to window).map { k =>
      s"filter(transform(_toks, (t, i) -> struct(t AS w1, try_element_at(_toks, i + 1 + $k) AS w2)), p -> p.w2 IS NOT NULL)"
    }.mkString("concat(", ", ", ")")
    // NOTE (r22, measured): a keyed Fanout.byKey spread of the pair
    // explode (hash on the token array) benched 0.94→1.40 s — the
    // exchange costs more than the rowwise pair generation it
    // parallelizes. Reverted.
    val pairs = df
      .select(split(col(textCol), " ").as("_toks"))
      .select(explode(expr(pairCols)).as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cl = c12.groupBy("w1").agg(sum(col("c12")).as("cl"))
    val cr = c12.groupBy("w2").agg(sum(col("c12")).as("cr"))
    val n2 = c12.agg(sum(col("c12")).as("n2"))
    c12.join(cl, "w1").join(cr, "w2")
      .crossJoin(broadcast(n2))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"),
        Canon.r4(log((col("c12").cast("double") * col("n2").cast("double"))
          / (col("cl").cast("double") * col("cr").cast("double")))).as("pmi"))
  }

  private[api] def arrayNgrams(arr: Column, n: Int, sep: String): Column = {
    val cnt = (size(arr) - (n - 1)).cast("int")
    when(cnt > 0,
      transform(sequence(lit(1), cnt), i => concat_ws(sep, slice(arr, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Sliding word n-grams of `textCol`, empty when the doc has fewer
    * than n tokens. */
  private def wordNgrams(textCol: String, n: Int): Column =
    arrayNgrams(split(col(textCol), " "), n, " ")

  /** Within-document repetition: the fraction of duplicated token
    * n-grams (1 − distinct/total), the classic repetition quality gate
    * for LLM training data — high values flag boilerplate, template
    * spam, and decoding loops. Pure rowwise codegen (split → sliding
    * n-grams via transform/slice → distinct count): no shuffle, no
    * state, scales embarrassingly. Documents shorter than n tokens
    * have no n-grams and score 0. */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val grams = wordNgrams(textCol, n)
    df.select(col(idCol), size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio", when(col("n_grams") > 0,
        lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)))
  }

  /** Benchmark decontamination: for each corpus document, how many
    * DISTINCT word n-grams it shares with a benchmark/eval set — the
    * standard "n-gram overlap" test run before training so that eval
    * questions leaking into the corpus are caught (n = 8 words is the
    * commonly published choice; lower n over-flags, higher n misses
    * paraphrases of short items). Returns (idCol, n_hits) for corpus
    * docs with at least one hit; a pipeline drops or audits them.
    *
    * Scale shape: the benchmark gram set is DISTINCT-ed and explicitly
    * broadcast — eval suites are bounded (thousands of items, at most
    * millions of grams) no matter how big the corpus, so the corpus
    * side streams map-side against the broadcast hash set: one scan,
    * one aggregate, no corpus-sized shuffle beyond the per-doc count.
    * Corpus grams are per-doc distinct BEFORE the join (array_distinct
    * inside the row), so the count after the join is already the
    * distinct-gram hit count — no count(distinct) shuffle.
    *
    * Grams cross the join as xxhash64 i64s, not strings: an 8-word
    * gram is ~50 chars, so hashing shrinks the broadcast (and the
    * bench-side distinct) ~10× at real eval-set sizes. Distinctness is
    * taken on the STRING grams per doc (exact), then hashed; an i64
    * collision between two distinct grams is ~n²/2⁶⁴ — the same
    * tolerance every hash-keyed dedup step here already accepts. */
  def ngramOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val gramHashes =
      explode(transform(array_distinct(wordNgrams(textCol, n)), g => xxhash64(g))).as("_gh")
    val benchGrams = bench.select(gramHashes).distinct()
    Fanout(corpus).select(col(idCol), gramHashes)
      .join(broadcast(benchGrams), "_gh")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** Fixed-size overlapping context-window chunking: document → chunks
    * of `chunkSize` tokens starting every `stride` tokens (the layout
    * step before tokenize-and-pack for an LLM context window; stride <
    * chunkSize gives the standard overlap so no span is split across a
    * boundary unseen). Emits (id, chunk_id, n_tokens, chunk); the last
    * chunk may be short, and chunking stops with the first chunk that
    * reaches the final token — no tail chunk that is a strict subset
    * of its predecessor.
    *
    * Scale shape: pure rowwise codegen — split once, explode a chunk
    * ordinal sequence, slice per ordinal. No shuffle, no state; output
    * rows ∝ input tokens / stride, produced map-side at the scan. */
  def chunkFixed(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // last chunk ordinal = first start position whose chunk reaches the
    // final token: ceil((n - chunkSize)/stride), clamped at 0 — starting
    // past that would emit tail chunks strictly contained in the
    // previous one (duplicate content in the packed/indexed output)
    df.select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol), col("_w"),
        explode(expr(s"sequence(0, greatest(0, CAST((size(_w) - $chunkSize" +
            s" + $stride - 1) div $stride AS INT)))"))
          .as("_ci"))
      .select(col(idCol), col("_ci").cast("long").as("chunk_id"),
        size(slice(col("_w"), col("_ci") * stride + 1, lit(chunkSize)))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("_w"), col("_ci") * stride + 1, lit(chunkSize)))
          .as("chunk"))
  }

  /** Corpus-wide top-k word n-grams by frequency (ties break on the
    * gram) — the collocation/boilerplate report run over a crawl before
    * choosing filter rules.
    *
    * Scale shape: map-side explode → hash aggregate with partial
    * (map-side) combine, so the shuffle carries one row per DISTINCT
    * gram per task, then a TakeOrderedAndProject global top-k — never a
    * full sort of the gram table. */
  def topNgrams(df0: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    val df = Fanout(df0) // spread the scan-shaped input across cores (r21)
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(wordNgrams(textCol, n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(k)
  }

  /** Stopword pruning: drop the given tokens from each document,
    * emitting the pruned text plus before/after token counts (the
    * index-side normalization step; the count pair doubles as the
    * stopword-density signal). Pure rowwise `filter` lambda — no
    * shuffle, no UDF, stays inside whole-stage codegen. The stopword
    * set is a typed array literal (not SQL text splicing), so words
    * containing quotes and column names needing backticks are safe. */
  def stopwordPrune(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    require(stopwords.nonEmpty, "stopword list must be non-empty")
    val sw = typedlit(stopwords)
    val kept = filter(split(col(textCol), " "), x => !array_contains(sw, x))
    df.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      size(kept).cast("long").as("n_kept"),
      concat_ws(" ", kept).as("pruned"))
  }

  /** Subword token-count estimate for context budgeting: whitespace
    * tokens plus a BPE-ish piece count — each word contributes
    * ⌈len/maxPiece⌉ pieces, the cheap deterministic stand-in for a
    * real tokenizer's "long words split into ~maxPiece-char subwords"
    * behavior. All integer arithmetic (ceil as (len+m−1) div m), so
    * both engines agree exactly. Pure rowwise codegen (split +
    * aggregate lambda): no shuffle, no UDF. */
  def tokenCountBpe(df: DataFrame, idCol: String, textCol: String,
      maxPiece: Int = 4): DataFrame = {
    require(maxPiece >= 1, s"maxPiece must be >= 1, got $maxPiece")
    // typed column lambda, no SQL text splicing (same contract as
    // stopwordPrune); ⌈len/m⌉ as floor((len+m−1)/m) — word lengths are
    // tiny, so the double division is exact before the long cast
    val piece = (x: Column) =>
      floor((length(x) + lit(maxPiece - 1)) / lit(maxPiece)).cast("long")
    df.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      aggregate(split(col(textCol), " "), lit(0L),
        (acc, x) => acc + piece(x)).as("n_pieces"))
  }

  /** Corpus vocabulary report per group: total token occurrences,
    * distinct vocabulary size, and the corpus-level type-token ratio —
    * the vocabulary-growth / diversity signal per source or language
    * slice (a shrinking TTR as a source grows flags template spam).
    *
    * Scale shape: explode → ONE hash aggregate on (group, token) with
    * map-side combine (shuffle ∝ per-group vocabulary, never rows),
    * then a tiny per-group rollup of the token table. */
  def vocabBySource(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(groupCol), explode(split(col(textCol), " ")).as("_t"))
      .groupBy(col(groupCol), col("_t")).agg(count(lit(1)).as("_c"))
    tok.groupBy(groupCol)
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_vocab"))
      .withColumn("ttr",
        Canon.r4(col("n_vocab").cast("double") / col("n_tokens").cast("double")))
  }

  /** Canonical token-set fingerprint (md5 of the sorted distinct
    * tokens) + winnowing rolling-hash fingerprint (shift-robust). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(concat_ws(" ", sort_array(array_distinct(split(col(textCol), " "))))
        .cast("binary")).as("set_fp"),
      Kernels.rollingFingerprintUdf(col(textCol)).as("roll_fp"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("n_distinct"))

  /** PII span patterns, ASCII-only so Java regex (Spark codegen) and
    * RE2-family engines (DuckDB, Trino, Go) agree on every span: no
    * alternation (where leftmost-first vs leftmost-longest diverge),
    * no lookaround (RE2 lacks it), only greedy quantifiers over
    * disjoint character classes. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val PiiIpv4  = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PiiIdRun = "\\b\\d{9,}\\b"

  /** Scrub PII-shaped spans with typed mask tokens — the standard
    * pre-training redaction pass. One codegen'd regexp_replace chain
    * per row (no UDF, no shuffle: stays inside WholeStageCodegen with
    * whatever scan feeds it). Replacement order is load-bearing:
    * email first (its local-part may contain digit runs), phone and
    * IPv4 before the bare digit-run so their octet/group digits are
    * not half-eaten as IDs. Emits the redacted text plus per-type
    * match counts (counted on the ORIGINAL text, independently per
    * pattern) so a pipeline can quarantine PII-dense documents. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clean = Seq(PiiEmail -> "<EMAIL>", PiiPhone -> "<PHONE>",
      PiiIpv4 -> "<IP>", PiiIdRun -> "<ID>")
      .foldLeft(col(textCol)) { case (c, (pat, mask)) =>
        regexp_replace(c, pat, mask)
      }
    df.select(col(idCol), clean.as("clean"),
      regexp_count(col(textCol), lit(PiiEmail)).cast("long").as("n_email"),
      regexp_count(col(textCol), lit(PiiPhone)).cast("long").as("n_phone"),
      regexp_count(col(textCol), lit(PiiIpv4)).cast("long").as("n_ip"),
      regexp_count(col(textCol), lit(PiiIdRun)).cast("long").as("n_id"))
  }

  /** EXACT duplicated-substring removal at token-`n`-gram granularity —
    * the "exact substring deduplication" pass of Lee et al. 2021
    * (Deduplicating Training Data Makes Language Models Better,
    * arXiv:2107.06499), re-expressed relationally: a token position is
    * masked iff it is covered by any `n`-token window whose exact text
    * occurs at least `minCount` times corpus-wide. Unlike document-level
    * dedup this removes boilerplate REGIONS (headers, license blocks,
    * templated spans) from otherwise-unique documents. Emits
    * (id, n_tokens, n_masked, cleaned) with kept tokens in original
    * order.
    *
    * Where the paper builds a corpus-wide suffix array, the relational
    * form needs only window functions + one hash aggregate — no global
    * index structure, no driver state:
    *  1. tokens posexploded; the n-token window at each position built
    *     by a single `lead`-chain window pass per doc (ONE shuffle on
    *     the doc id) and keyed by its md5 (128-bit — gram identity must
    *     not collide: a false gram merge masks innocent text, the trap
    *     that killed 32-bit token hashes at 400k docs, SURVEY §7.2 #14);
    *  2. gram occurrence counts: hash aggregate, shuffle ∝ distinct
    *     grams, map-side combined;
    *  3. dup grams (count ≥ minCount — a small fraction of any real
    *     corpus) equi-joined back to their start positions;
    *  4. coverage: masked = max(dup-start flag) over the trailing
    *     n-1..0 positions — a second per-doc window pass;
    *  5. reconstruction: conditional collect_list of kept (pos, token)
    *     structs, sorted and joined — per-doc bounded state, the same
    *     bound every per-doc text op here carries.
    * Every stage is an equi-shuffle or hash aggregate; nothing is
    * broadcast-sized by the corpus. */
  def dupSpanMask(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val toks = df
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), " ")).as(Seq("_pos", "_tok")))
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    val gram = concat_ws(" ",
      col("_tok") +: (1 until n).map(i => lead(col("_tok"), i).over(w)): _*)
    // a window is complete iff its last token exists — concat_ws would
    // otherwise silently build short tail grams that alias real ones
    val withGram = toks
      .withColumn("_gh",
        when(lead(col("_tok"), n - 1).over(w).isNotNull, md5(gram.cast("binary"))))
    val dupGrams = withGram.filter(col("_gh").isNotNull)
      .groupBy(col("_gh")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select(col("_gh"), lit(1).as("_dup"))
    val flagged = withGram.join(dupGrams, Seq("_gh"), "left")
    val wCov = Window.partitionBy(col("_id")).orderBy(col("_pos"))
      .rowsBetween(-(n - 1), Window.currentRow)
    flagged
      .withColumn("_cov", max(coalesce(col("_dup"), lit(0))).over(wCov))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_cov")).as("n_masked"),
        array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN _cov = 0 " +
            "THEN struct(_pos, _tok) END)), x -> x._tok)"), " ").as("cleaned"))
      .withColumnRenamed("_id", idCol)
  }
}
