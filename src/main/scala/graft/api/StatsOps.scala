package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

object StatsOps {
  /** Exact interpolated percentiles (SQL `quantile_cont` semantics)
    * computed from a per-(group, value) HISTOGRAM instead of Spark's
    * `percentile` aggregate, whose buffer holds every value of a
    * group in memory at once — the shape that OOMs a 100 TB group.
    * Here aggregation state is one count per distinct value (bounded
    * by the 4 dp rounding grid the determinism rules already impose
    * on inputs — money is 2 dp, scores are pre-rounded 4 dp), and the
    * interpolation pass runs over that bin table, never the rows.
    *
    * Exactness: bitwise-identical to `percentile()` on any input —
    * the interpolation replicates Spark's weighted form
    * `(higher−pos)·v_lo + (pos−lower)·v_hi` (parity-asserted against
    * the built-in on the fixtures in BinnedPercentileSpec). Values
    * are binned as given; nulls are excluded from the computation,
    * and a group whose values are ALL null still appears in the
    * output with null percentiles — the built-in (and DuckDB
    * `quantile_cont`) emit the group, so nulls ride through as a
    * zero-weight bin that keeps the group alive without ever covering
    * a percentile position (row sets stay identical).
    *
    * Scale shape: one hash aggregate (group, value) → count with
    * map-side combine — per-task state ∝ distinct values seen, total
    * shuffle ∝ bins; then two window passes partitioned by group over
    * the bin table (≤ grid size rows per group, vs the row count the
    * buffering aggregate holds). Returns one row per group:
    * (groupCol, <one column per requested (name, p)>[, maxName]). */
  def binnedPercentiles(df: DataFrame, groupCol: String, value: Column,
      ps: Seq[(String, Double)], maxName: Option[String] = None): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    ps.foreach { case (n, p) =>
      require(p >= 0.0 && p <= 1.0, s"percentile $n must be in [0,1], got $p") }
    // null values are KEPT as their own bin with an EFFECTIVE count of
    // 0: the bin table itself then witnesses every group — an all-null
    // group survives the windows and the final aggregate as a single
    // zero-weight bin and emits null percentiles (matching the
    // built-in and DuckDB quantile_cont row sets) with no extra join,
    // no distinct, and exactly one scan of df
    val hist = df.select(col(groupCol), value.cast("double").as("_v"))
      .groupBy(col(groupCol), col("_v"))
      .agg(count(lit(1)).as("_c"))
    percentilesFromBins(hist, groupCol, ps, maxName)
  }

  /** The interpolation stage of [[binnedPercentiles]] over an ALREADY
    * BUILT bin table `(groupCol, _v double, _c long)` — exposed so
    * persisted per-day histograms, merged by summing `_c`, ride the
    * IDENTICAL math as the single-pass path (value histograms are
    * algebraic: sum-of-counts merges them losslessly, which is what
    * makes exact percentiles incrementally maintainable at 100 TB —
    * the quantile analogue of sum/count partial merge). All invariants
    * documented on [[binnedPercentiles]] hold here. */
  def percentilesFromBins(hist: DataFrame, groupCol: String,
      ps: Seq[(String, Double)], maxName: Option[String] = None): DataFrame = {
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("_v"))
    val wAll = Window.partitionBy(col(groupCol))
    // bin rows carry [prev, cum) — the 0-based sorted-position range
    // their value occupies within the group. The null bin sorts first
    // (asc = nulls first), carries _cEff 0, and its [0, 0) range can
    // never cover a position, so it is inert in every selection below.
    val cum = hist
      .withColumn("_cEff", when(col("_v").isNotNull, col("_c")).otherwise(lit(0L)))
      .withColumn("_cum", sum(col("_cEff")).over(wCum))
      .withColumn("_n", sum(col("_cEff")).over(wAll))
    val aggs = ps.flatMap { case (name, p) =>
      val h = (col("_n") - 1).cast("double") * p
      val prev = (col("_cum") - col("_cEff")).cast("double")
      val cm = col("_cum").cast("double")
      // exactly one bin covers each of positions ⌊h⌋ / ⌈h⌉ → the
      // conditional max is a selection, not a comparison across bins
      Seq(max(when(prev <= floor(h) && floor(h) < cm, col("_v"))).as(s"_lo_$name"),
        max(when(prev <= ceil(h) && ceil(h) < cm, col("_v"))).as(s"_hi_$name"))
    } ++ maxName.map(m => max(col("_v")).as(m))
    val agged = cum.groupBy(col(groupCol))
      .agg(sum(col("_cEff")).as("_n"), aggs: _*)
    val outs = ps.map { case (name, p) =>
      val h = (col("_n") - 1).cast("double") * p
      val lo = floor(h)
      val hi = ceil(h)
      val vLo = col(s"_lo_$name")
      val vHi = col(s"_hi_$name")
      // vHi === vLo mirrors Spark's higherKey==lowerKey shortcut: when
      // a duplicate run spans both positions the value is returned
      // EXACTLY — interpolating would drift an ulp ((hi−h)·v + (h−lo)·v
      // ≠ v in floats) and break the bitwise-parity contract
      when(hi === lo || vHi === vLo, vLo)
        .otherwise((hi - h) * vLo + (h - lo) * vHi).as(name)
    } ++ maxName.map(col)
    agged.select(col(groupCol) +: outs: _*)
  }

  /** WEIGHTED percentiles, exact, lower-quantile semantics: per group,
    * the smallest value whose cumulative weight reaches p·W (W = total
    * group weight) — the sample-survey / token-budget form of the
    * quantile ("the price below which 25% of the QUANTITY sits", "the
    * doc length below which half the TOKENS sit"), which the unweighted
    * [[binnedPercentiles]] cannot express.
    *
    * Engine-portable BY CONSTRUCTION: weights aggregate in exact
    * DECIMAL and the selection compares `10000·cum ≥ round(10⁴p)·W` —
    * pure integer-scaled decimal arithmetic on both sides, so the cut
    * cannot straddle a float ulp (p must be exactly representable in
    * 4 decimal digits; the selected value is an ACTUAL input value,
    * never interpolated). NULL values/weights are excluded; a group
    * with only NULLs drops out. Zero-weight bins can never move a cut.
    *
    * Scale shape: same as [[binnedPercentiles]] — one (group, value)
    * hash aggregate summing weights (state ∝ distinct values), two
    * window passes over the bin table, one tiny final aggregate.
    *
    * @param weightScale decimal scale the weights are cast to. Pass
    *   the scale your weights ACTUALLY carry: the default 0 HALF_UP
    *   rounds fractional weights to integers before accumulating, so
    *   e.g. weights of 0.4 all become 0 and the cuts shift silently —
    *   the same trap [[TimeSeriesOps.ewmaSmooth]]'s valueScale
    *   documents. Integral weights (counts, tokens, bytes) are exact
    *   at 0. */
  def weightedPercentilesBinned(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, ps: Seq[(String, Double)],
      weightScale: Int = 0): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    ps.foreach { case (n, p) =>
      require(p >= 0.0 && p <= 1.0, s"percentile $n must be in [0,1], got $p")
      require(math.abs(p * 10000 - math.round(p * 10000)) < 1e-9,
        s"percentile $n = $p must be representable in 4 decimal digits " +
          "(the exact integer-scaled cut compare)")
    }
    val decW = DecimalType(28, weightScale)
    val hist = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("double").as("_v"),
        col(weightCol).cast(decW).as("_w"))
      .groupBy(col(groupCol), col("_v")).agg(sum(col("_w")).as("_w"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("_v"))
    val wAll = Window.partitionBy(col(groupCol))
    val cum = hist
      .withColumn("_cum", sum(col("_w")).over(wCum))
      .withColumn("_tot", sum(col("_w")).over(wAll))
    val aggs = ps.map { case (name, p) =>
      val num = math.round(p * 10000).toInt
      min(when(col("_cum") * 10000 >= col("_tot") * num, col("_v"))).as(name)
    }
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-key z-score anomaly flags: rows whose value is at least
    * `threshold` population standard deviations from their key's mean —
    * the monitoring/outlier report over a metric stream.
    *
    * Scale shape: ONE aggregate per key (avg + stddev_pop, partial
    * combine), the tiny per-key stats table broadcast back, and a
    * rowwise filter — no second shuffle, no window. The z-score is
    * pre-rounded (4 dp) so the >=-at-the-cut decision cannot straddle
    * the one-ulp difference between engines' float aggregates (the
    * same contract as [[TextAnalysis.qualityFilter]]). A zero-variance
    * key has no anomalies BY THE GUARD, not by accident: double 0/0
    * is plain IEEE division in BOTH engines (NaN — Spark's null-out
    * on division applies to integral/decimal, not doubles), and both
    * order NaN above every number, so without a guard both sides
    * would flag the entire constant group; the explicit `sd > 0`
    * filter here and in the oracle twin is what makes zero-variance
    * keys flag nothing. */
  def zscoreFlags(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val stats = df.groupBy(keyCol)
      .agg(avg(col(valueCol)).as("_mu"), stddev_pop(col(valueCol)).as("_sd"))
    df.join(broadcast(stats), keyCol)
      .filter(col("_sd") > 0)
      .withColumn("z", Canon.r4((col(valueCol) - col("_mu")) / col("_sd")))
      .filter(abs(col("z")) >= threshold)
      .select(col(keyCol), col(idCol), col(valueCol), col("z"))
  }

  /** Per-group Tukey-fence outliers: rows outside
    * [q1 − k·IQR, q3 + k·IQR] (k = 1.5 is the standard fence) — the
    * robust-to-skew cousin of the z-score filter.
    *
    * Scale shape: per-group exact percentiles are one aggregate, the
    * per-group fence table is broadcast back, and the verdict is a
    * rowwise filter. Fences are pre-rounded (4 dp) for the same
    * engine-portability reason as [[zscoreFlags]]. */
  def iqrOutliers(df0: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Double = 1.5): DataFrame = {
    val df = Fanout(df0) // spread the scan-shaped input across cores (r21)
    require(k > 0, s"fence multiplier must be > 0, got $k")
    val cuts = binnedPercentiles(df, groupCol, col(valueCol),
        Seq("_q1" -> 0.25, "_q3" -> 0.75))
      .select(col(groupCol),
        Canon.r4(col("_q1") - (col("_q3") - col("_q1")) * k).as("_lo"),
        Canon.r4(col("_q3") + (col("_q3") - col("_q1")) * k).as("_hi"))
    df.join(broadcast(cuts), groupCol)
      .filter(col(valueCol) < col("_lo") || col(valueCol) > col("_hi"))
      .select(col(groupCol), col(idCol), col(valueCol))
  }

  /** EXACT heavy hitters (items with global count·phi > N) via a
    * per-partition Misra–Gries candidate sketch + an exact recount of
    * candidates only — sketch-guided exact computation.
    *
    * Why not a plain `groupBy(item).count()`? Its map-side combine
    * state and shuffle volume are ∝ DISTINCT items per partition — at
    * 100 TB of text that is billions of tokens moved to answer a
    * question about the few frequent ones. Here pass 1 keeps ≤ phi
    * counters per partition (constant memory) and emits ≤ phi
    * candidates per partition; pass 2 recounts ONLY candidate rows
    * (broadcast semi-join pre-filters before the aggregate), so both
    * the combine state and the shuffle are ∝ candidates, never ∝
    * vocabulary.
    *
    * Exactness: Misra–Gries with phi counters retains every item whose
    * partition-local count exceeds n_p/(phi+1). A global heavy hitter
    * (count·phi > N = Σn_p) must by pigeonhole exceed n_p/phi ≥
    * n_p/(phi+1) in at least one partition, so the candidate union is
    * a superset of the true answer; the exact recount + exact integer
    * threshold (`n·phi > N`, no floats) then removes all false
    * positives. The result is therefore independent of partitioning —
    * byte-deterministic — even though the candidate set is not. */
  def heavyHittersExact(df: DataFrame, itemCol: String, phi: Int): DataFrame = {
    require(phi >= 1, s"phi must be >= 1, got $phi")
    val cand = mgCandidates(df, itemCol, phi)
    val total = df.agg(count(lit(1)).as("_n_total"))
    df.join(broadcast(cand), Seq(itemCol), "left_semi")
      .groupBy(itemCol).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * phi > col("_n_total"))
      .select(col(itemCol), col("n"))
  }

  /** Shannon entropy of a categorical column's distribution per group:
    * H(group) = −Σ_cat p·ln(p) — the mix-diversity profile (bot
    * detection: single-action users score 0; balanced k-way mixes
    * score ln k), and the label-balance check of a dataset audit.
    *
    * Scale shape: one hash aggregate on (group, category) — shuffle ∝
    * distinct pairs, map-side combined — then the normalizer and the
    * entropy fold as a window + aggregate over that pair table (rows ∝
    * pairs, never events). Entropy is pre-rounded (4 dp). */
  def entropyByGroup(df: DataFrame, groupCol: String, catCol: String): DataFrame = {
    val pairs = df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("_n"))
    val wg = Window.partitionBy(col(groupCol))
    val p = col("_n").cast("double") / col("_tot").cast("double")
    pairs.withColumn("_tot", sum(col("_n")).over(wg))
      .groupBy(col(groupCol))
      .agg(max(col("_tot")).as("n_events"),
        Canon.r4(-sum(p * log(p))).as("entropy"))
  }

  /** Pairwise Pearson correlation matrix over fixed-scale numeric
    * columns, computed from EXACT decimal power sums — the
    * column-relationship half of a data-profiling pass.
    *
    * Why not the built-in `corr`? Its Welford-style co-moment buffers
    * merge in shuffle-arrival order, so the emitted double can differ
    * ulp-wise between runs and engines. Here every sum (Σx, Σx², Σxy)
    * is a DECIMAL aggregate — exact and associative, hence
    * merge-order-independent — and the textbook closed form
    * `(n·Σxy − Σx·Σy) / √(n·Σx² − (Σx)²) √(n·Σy² − (Σy)²)` is applied
    * once to the exact sums, pre-rounded (4 dp) for engine portability.
    * Inputs must be fixed-scale (money/quantity columns at ≤ `scale`
    * dp) for the decimal casts to be lossless; a zero-variance column
    * yields NaN (0/0) for its pairs in any engine — profile such
    * columns out first.
    *
    * Scale shape: ONE full-scan aggregate with map-side partial
    * combine — state is k + k·(k+1)/2 decimal sums regardless of row
    * count — and a rowwise explode of the single stats row into the
    * k·(k−1)/2 pair rows. No shuffle beyond the 1-row aggregate. */
  /** Per-group skewness and excess kurtosis from EXACT decimal power
    * sums Σx, Σx², Σx³, Σx⁴ — the distribution-shape half of a
    * profiling pass, same merge-order-proof construction as
    * [[corrMatrixExact]] (the one-pass co-moment buffers the built-ins
    * use merge in shuffle-arrival order and drift ulp-wise).
    *
    * Decimal staging is chosen so every product stays LOSSLESS inside
    * precision 38: x at (9,2), x² recast to (12,4) (exact — a 2 dp
    * value squared has exactly 4 dp), then x³ = x²·x at (22,6) and
    * x⁴ = x²·x² at (25,8). Squaring (19,4)·(19,4) directly would
    * exceed 38 and Spark would silently TRUNCATE the scale to 7 — one
    * lost digit, a hash mismatch against any engine that kept 8.
    *
    * Input domain: |x| ≤ 9999.99 (so x² fits the (12,4) stage) —
    * out-of-domain rows are FILTERED, not silently dropped from some
    * sums but not others (an overflowing decimal cast NULLs under
    * non-ANSI Spark, which would desync n/Σx from Σx²..Σx⁴ and emit
    * plausible garbage; mirror the same bound in any SQL twin).
    *
    * Population moments via the standard raw→central expansion, the
    * identical float expression applied to identical exact sums in
    * both engines (skew uses m2·√m2, not pow(m2, 1.5) — pow is not
    * correctly rounded everywhere, mult and sqrt are). Zero-variance
    * groups emit NULL (guarded on m2 > 0). One hash aggregate, O(1)
    * state per group. */
  def momentsByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DecimalType(9, 2))
    val x2 = (x * x).cast(DecimalType(12, 4))
    val agged = df
      .filter(col(valueCol).isNotNull && abs(col(valueCol)) <= 9999.99)
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("_s1"),
        sum(x2).cast("double").as("_s2"),
        sum(x2 * x).cast("double").as("_s3"),
        sum(x2 * x2).cast("double").as("_s4"))
    val n = col("n").cast("double")
    val m = col("_s1") / n
    val m2 = col("_s2") / n - m * m
    val m3 = col("_s3") / n - lit(3.0) * m * col("_s2") / n + lit(2.0) * m * m * m
    val m4 = col("_s4") / n - lit(4.0) * m * col("_s3") / n +
      lit(6.0) * m * m * col("_s2") / n - lit(3.0) * m * m * m * m
    agged.select(col(groupCol), col("n"),
      Canon.r4(m).as("mean"),
      Canon.r4(when(m2 > 0, m3 / (m2 * sqrt(m2)))).as("skewness"),
      Canon.r4(when(m2 > 0, m4 / (m2 * m2) - lit(3.0))).as("kurtosis_excess"))
  }

  def corrMatrixExact(df0: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    val df = Fanout(df0) // spread the scan-shaped input across cores (r21)
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val dt = DecimalType(18, scale)
    def dec(c: String): Column = col(c).cast(dt)
    val sums =
      Seq(count(lit(1)).cast("double").as("_n")) ++
      cols.map(c => sum(dec(c)).cast("double").as(s"_s_$c")) ++
      (for (i <- cols.indices; j <- i until cols.size)
        yield sum(dec(cols(i)) * dec(cols(j))).cast("double")
          .as(s"_p_${cols(i)}_${cols(j)}"))
    val one = df.agg(sums.head, sums.tail: _*)
    val n = col("_n")
    def s(c: String) = col(s"_s_$c")
    def p(a: String, b: String) = col(s"_p_${a}_$b")
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size) yield {
      val (a, b) = (cols(i), cols(j))
      struct(lit(a).as("col1"), lit(b).as("col2"),
        Canon.r4((n * p(a, b) - s(a) * s(b)) /
          (sqrt(n * p(a, a) - s(a) * s(a)) * sqrt(n * p(b, b) - s(b) * s(b))))
          .as("corr"))
    }
    one.select(explode(array(pairs: _*)).as("_r")).select(col("_r.*"))
      .orderBy("col1", "col2")
  }

  /** Welch's two-sample t-test between TWO named groups of `groupCol`:
    * t-stat and Welch–Satterthwaite degrees of freedom from exact
    * decimal power sums — the A/B-experiment readout (unequal
    * variances, the safe default). t = (m_a − m_b)/√(v_a/n_a + v_b/n_b) with sample
    * variance v = (nΣx² − (Σx)²)/(n(n−1)); both engines apply the
    * identical float expression to identical exact sums, so the stat
    * hash-matches. Groups with n < 2 or zero variance-sum emit NULL
    * (guarded on the exact sums). One hash aggregate over both groups,
    * O(1) state. Returns ONE row: (group_a, group_b, n_a, n_b, t, df). */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String, scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val x = col(valueCol).cast(dt)
    def side(g: String, suf: String) = Seq(
      count(when(col(groupCol) === g, 1)).as(s"_n$suf"),
      sum(when(col(groupCol) === g, x)).cast("double").as(s"_s$suf"),
      sum(when(col(groupCol) === g, x * x)).cast("double").as(s"_ss$suf"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val one = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    def stats(suf: String) = {
      val n = col(s"_n$suf").cast("double")
      val m = col(s"_s$suf") / n
      val v = (n * col(s"_ss$suf") - col(s"_s$suf") * col(s"_s$suf")) /
        (n * (n - lit(1.0)))
      (n, m, v)
    }
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val se2 = va / na + vb / nb
    val ok = col("_na") >= 2 && col("_nb") >= 2 && se2 > 0.0
    val dfw = (se2 * se2) /
      ((va / na) * (va / na) / (na - lit(1.0)) +
        (vb / nb) * (vb / nb) / (nb - lit(1.0)))
    one.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("_na").as("n_a"), col("_nb").as("n_b"),
      when(ok, Canon.r4((ma - mb) / sqrt(se2))).as("t"),
      when(ok, Canon.r4(dfw)).as("df"))
  }

  /** Per-group Gini coefficient — the inequality summary of a value
    * distribution (0 = perfectly even, →1 = one row holds everything):
    * the share-of-revenue / token-budget concentration audit. Computed
    * by the sorted-rank identity G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n
    * (x₍ᵢ₎ ascending, i 1-based). Ranks come from a row_number over
    * the value order; ties rank arbitrarily but Σ i·x is INVARIANT
    * under permutations within a tie run (equal x factor out), so the
    * result — and the hash — is deterministic anyway. Σ i·x and Σx
    * accumulate in exact DECIMAL; float enters once in the final
    * identity. Defined for non-negative values (negative inputs make
    * the index exceed its [0,1) meaning; values pass through as
    * given). One key shuffle (the rank window) + one hash aggregate.
    * Groups with Σx = 0 emit NULL (guarded on the exact sum). */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 2): DataFrame = {
    val dt = DecimalType(28, scale)
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol).asc)
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .withColumn("_i", row_number().over(w))
    val agged = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("_n"),
      sum(col(valueCol).cast(dt)).cast("double").as("_sx"),
      sum(col("_i").cast(DecimalType(28, 0)) * col(valueCol).cast(dt))
        .cast("double").as("_six"))
    val n = col("_n").cast("double")
    agged.select(col(groupCol), col("_n").as("n"),
      when(col("_sx") =!= 0.0, Canon.r4(
        lit(2.0) * col("_six") / (n * col("_sx")) - (n + lit(1.0)) / n))
        .as("gini"))
  }

  /** Per-group simple linear regression (OLS y on x) by the closed
    * form over EXACT decimal power sums — the same
    * merge-order-independent trick as [[corrMatrixExact]]: Σx, Σy,
    * Σx², Σxy accumulate in DECIMAL (associative, deterministic at
    * any partitioning), float enters once when the closed form is
    * applied to the finished sums, and both engines spell the
    * identical expression tree, so slope/intercept hash-match.
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²); the intercept uses its own
    * closed form (ΣyΣx² − ΣxΣxy)/(nΣx² − (Σx)²) rather than the
    * ROUNDED slope. Zero-variance groups emit NULL (guarded on the
    * exact-sums denominator, so the verdict cannot differ between
    * engines). One hash aggregate, O(1) state per group. */
  def linRegByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val x = col(xCol).cast(dt)
    val y = col(yCol).cast(dt)
    // NULL rows must leave n too, not just the sums — counting them
    // inflates n against sums that skipped them, which both skews the
    // fit and defeats the zero-variance guard
    val agged = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol)).agg(
      count(lit(1)).as("_nl"),
      sum(x).cast("double").as("_sx"), sum(y).cast("double").as("_sy"),
      sum(x * x).cast("double").as("_sxx"),
      sum(x * y).cast("double").as("_sxy"))
    val n = col("_nl").cast("double")
    val den = n * col("_sxx") - col("_sx") * col("_sx")
    agged.select(col(groupCol), col("_nl").as("n"),
      when(den =!= 0.0, Canon.r4(
        (n * col("_sxy") - col("_sx") * col("_sy")) / den)).as("slope"),
      when(den =!= 0.0, Canon.r4(
        (col("_sy") * col("_sxx") - col("_sx") * col("_sxy")) / den)).as("intercept"))
  }

  /** Mann–Whitney U rank-sum test between two arms — the
    * nonparametric companion to [[welchTTest]] for skewed metrics
    * (revenue per user, latency) where a t-test's mean is the wrong
    * summary. The rank machinery never ranks ROWS: values collapse to
    * a per-distinct-value histogram (na, nb counts per arm), so
    * aggregation state is ∝ distinct `scale`-dp values (the bounded
    * grid the determinism rules impose), and the tie-averaged ranks
    * come from one cumulative window over that bin table. Everything
    * up to the final z is EXACT integer arithmetic on doubled ranks
    * (2·avg_rank = 2·cum_before + t + 1 is always integral), summed
    * in DECIMAL(38,0) so Σ na·rank2 (≤ 2N²) and the tie term
    * Σ(t³−t) (≤ N³) cannot overflow at any realistic N; float enters
    * once, in the normal-approximation z with tie correction.
    * Output: one row (n_a, n_b, u_a as double — U can end in .5 —
    * and the r4 z, NULL when the tie-corrected σ is 0). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String, scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val d38 = DecimalType(38, 0)
    val bins = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .select(col(valueCol).cast(dt).as("_v"), col(groupCol).as("_g"))
      .groupBy("_v").agg(
        count(when(col("_g") === groupA, 1)).as("_na"),
        count(when(col("_g") === groupB, 1)).as("_nb"))
    val w = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col("_na") + col("_nb")
    val ranked = bins
      .withColumn("_cum", coalesce(sum(t).over(w), lit(0L)))
      .withColumn("_rank2", lit(2L) * col("_cum") + t + lit(1L))
    val agg = ranked.agg(
      sum(col("_na")).as("_n1"), sum(col("_nb")).as("_n2"),
      sum(col("_na").cast(d38) * col("_rank2").cast(d38)).as("_r1x2"),
      sum((t.cast(d38) * t.cast(d38) * t.cast(d38) - t.cast(d38)))
        .as("_ties"))
    val n1 = col("_n1").cast("double")
    val n2 = col("_n2").cast("double")
    val nn = n1 + n2
    // U1 = R1 − n1(n1+1)/2, carried doubled: U1·2 = R1·2 − n1(n1+1)
    val u1x2 = col("_r1x2").cast("double") - n1 * (n1 + lit(1.0))
    val sigma2 = n1 * n2 / lit(12.0) *
      ((nn + lit(1.0)) - col("_ties").cast("double") / (nn * (nn - lit(1.0))))
    agg.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("_n1").cast("long").as("n_a"), col("_n2").cast("long").as("n_b"),
      (u1x2 / lit(2.0)).as("u_a"),
      when(col("_n1") > 0 && col("_n2") > 0 && sigma2 > 0.0,
        Canon.r4((u1x2 / lit(2.0) - n1 * n2 / lit(2.0)) / sqrt(sigma2)))
        .as("z"))
  }

  /** Two-sample Kolmogorov–Smirnov test between two arms — the
    * distribution-shift detector (did this batch's value distribution
    * drift from the reference?): D = max |ECDF_a − ECDF_b| over the
    * pooled support. Same bounded posture as [[mannWhitneyU]]: values
    * collapse to a per-distinct-value histogram, cumulative counts
    * come from one window over that bin table, and D's numerator is
    * the EXACT integer max |cum_a·n_b − cum_b·n_a| (cross-multiplied
    * in DECIMAL(38,0) so no division touches the argmax); floats
    * enter only in the final D = num/(n_a·n_b) and the asymptotic
    * p ≈ 2·exp(−2·D²·n_a·n_b/(n_a+n_b)), identical expressions in
    * any engine. */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String, scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val d38 = DecimalType(38, 0)
    val bins = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .select(col(valueCol).cast(dt).as("_v"), col(groupCol).as("_g"))
      .groupBy("_v").agg(
        count(when(col("_g") === groupA, 1)).as("_na"),
        count(when(col("_g") === groupB, 1)).as("_nb"))
    val w = Window.orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = bins
      .withColumn("_ca", sum(col("_na")).over(w))
      .withColumn("_cb", sum(col("_nb")).over(w))
    val tot = bins.agg(sum(col("_na")).as("_n1"), sum(col("_nb")).as("_n2"))
    val num = cums.crossJoin(broadcast(tot))
      .agg(max(abs(col("_ca").cast(d38) * col("_n2").cast(d38)
        - col("_cb").cast(d38) * col("_n1").cast(d38))).as("_num"),
        max(col("_n1")).as("_n1"), max(col("_n2")).as("_n2"))
    val n1 = col("_n1").cast("double")
    val n2 = col("_n2").cast("double")
    val dstat = col("_num").cast("double") / (n1 * n2)
    num.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("_n1").as("n_a"), col("_n2").as("n_b"),
      when(col("_n1") > 0 && col("_n2") > 0, Canon.r4(dstat)).as("d"),
      when(col("_n1") > 0 && col("_n2") > 0, Canon.r4(
        lit(2.0) * exp(lit(-2.0) * dstat * dstat * n1 * n2 / (n1 + n2))))
        .as("p_approx"))
  }

  /** Winsorized mean per group — the robust location estimate that
    * CLIPS (not drops) the tails at exact interpolated percentiles
    * before averaging, so a handful of extreme rows move the summary
    * by at most the cut distance. Cuts come from [[binnedPercentiles]]
    * (state ∝ distinct grid values, bitwise quantile_cont parity) and
    * broadcast back onto the rows; clipped values re-round to the
    * 4 dp grid and sum in EXACT decimal, so the mean is
    * merge-order-proof. Output: (group, n, mean, winsor_mean) with
    * the plain mean alongside for the shift diagnostic. */
  def winsorizedMean(df: DataFrame, groupCol: String, value: Column,
      pLo: Double, pHi: Double): DataFrame = {
    val dt = DecimalType(28, 4)
    val rows = df.select(col(groupCol).as("_g"), Canon.r4(value).as("_v"))
      .filter(col("_v").isNotNull)
    val cuts = binnedPercentiles(rows, "_g", col("_v"),
      Seq("_lo" -> pLo, "_hi" -> pHi))
    rows.join(broadcast(cuts), "_g")
      .withColumn("_w", Canon.r4(least(greatest(col("_v"), col("_lo")), col("_hi"))))
      .groupBy("_g").agg(count(lit(1)).as("n"),
        Canon.r4(sum(col("_v").cast(dt)).cast("double")
          / count(lit(1)).cast("double")).as("mean"),
        Canon.r4(sum(col("_w").cast(dt)).cast("double")
          / count(lit(1)).cast("double")).as("winsor_mean"))
      .withColumnRenamed("_g", groupCol)
  }

  /** One-way ANOVA F across ALL groups of `groupCol` — does the group
    * mean vary more than chance (the k-arm generalization of
    * [[welchTTest]]'s two arms, equal-variance form)? From per-group
    * exact power sums: SSB = Σ_g S_g²/n_g − S²/N, SSW = Q − Σ_g S_g²/n_g,
    * F = (SSB/(k−1)) / (SSW/(N−k)).
    *
    * Determinism: counts and power sums are exact decimal; the one
    * CROSS-GROUP float sum (Σ_g S_g²/n_g) grid-rounds each group's
    * term to 6 dp BEFORE an exact-decimal sum (float sums over groups
    * are merge-order-dependent, the [[graft.Canon]] rule), so both
    * engines fold identical decimals in any order. Exactness caveat:
    * each S_g's double cast is exact while its unscaled value stays
    * ≤ 2⁵³ (≈ 9e13 value-units at 2 dp) — beyond that the cast rounds
    * identically in both engines anyway (correctly-rounded IEEE), so
    * parity still holds. Guards: NULL F when k < 2, N ≤ k, or SSW ≤ 0,
    * decided on the same floats both sides. One hash aggregate ∝
    * groups, then one k-row fold — O(1) state per group. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val d6 = DecimalType(38, 6)
    val x = col(valueCol).cast(dt)
    val per = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("_ng"),
        sum(x).as("_sg"),
        sum(x * x).as("_qg"))
    val term = Canon.rk(col("_sg").cast("double") * col("_sg").cast("double")
      / col("_ng").cast("double"), 6).cast(d6)
    val agg = per.agg(
      count(lit(1)).as("_k"), sum(col("_ng")).as("_n"),
      sum(col("_sg")).cast("double").as("_s"),
      sum(col("_qg")).cast("double").as("_q"),
      sum(term).cast("double").as("_b"))
    val k = col("_k").cast("double")
    val n = col("_n").cast("double")
    val ssb = col("_b") - col("_s") * col("_s") / n
    val ssw = col("_q") - col("_b")
    val ok = col("_k") >= 2 && col("_n") > col("_k") && ssw > 0.0
    agg.select(col("_k").as("n_groups"), col("_n").as("n"),
      (col("_k") - 1).as("df1"), (col("_n") - col("_k")).as("df2"),
      when(ok, Canon.r4((ssb / (k - lit(1.0))) / (ssw / (n - k)))).as("f"))
  }

  /** Per-group Spearman rank correlation between two numeric columns —
    * the monotone-association readout that survives outliers and
    * nonlinearity where Pearson ([[corrMatrixExact]]) does not.
    * Computed as Pearson on DOUBLED tie-averaged ranks (the
    * [[mannWhitneyU]] trick: 2·avg_rank = 2·cum_before + t + 1 is
    * always integral), so every pre-ρ quantity is an exact integer
    * summed in DECIMAL(38,0); float enters once in the closed form.
    *
    * Scale shape: ranks never touch ROWS — values collapse to a
    * per-(group, distinct-value) histogram (state ∝ the `scale`-dp
    * value grid per group), one cumulative window over that bin table
    * per axis, then the rank maps equi-join back onto the rows and one
    * hash aggregate folds the five power sums. Groups with zero
    * variance on either axis emit NULL ρ (guarded on the exact-sum
    * denominators). */
  def spearmanCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, scale: Int = 2): DataFrame = Checkpoints.scope {
    val dt = DecimalType(18, scale)
    val d38 = DecimalType(38, 0)
    // base fans into both rank histograms AND the final join — pin it
    // (§7.2 fan-out trap) so the source scan runs once
    val base = Checkpoints.pin(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"), col(xCol).cast(dt).as("_x"),
        col(yCol).cast(dt).as("_y")))
    def rank2(vc: String, out: String): DataFrame = {
      val bins = base.groupBy(col("_g"), col(vc)).agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("_g")).orderBy(col(vc).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      bins.withColumn("_cum", coalesce(sum(col("_c")).over(w), lit(0L)))
        .select(col("_g"), col(vc),
          (lit(2L) * col("_cum") + col("_c") + lit(1L)).as(out))
    }
    val ranked = base
      .join(rank2("_x", "_rx"), Seq("_g", "_x"))
      .join(rank2("_y", "_ry"), Seq("_g", "_y"))
    val rx = col("_rx").cast(d38)
    val ry = col("_ry").cast(d38)
    val agged = ranked.groupBy("_g").agg(
      count(lit(1)).as("_n"),
      sum(rx).cast("double").as("_sx"), sum(ry).cast("double").as("_sy"),
      sum(rx * rx).cast("double").as("_qx"),
      sum(ry * ry).cast("double").as("_qy"),
      sum(rx * ry).cast("double").as("_sxy"))
    val n = col("_n").cast("double")
    val num = n * col("_sxy") - col("_sx") * col("_sy")
    val denx = n * col("_qx") - col("_sx") * col("_sx")
    val deny = n * col("_qy") - col("_sy") * col("_sy")
    agged.select(col("_g").as(groupCol), col("_n").as("n"),
      when(denx > 0.0 && deny > 0.0,
        Canon.r4(num / (sqrt(denx) * sqrt(deny)))).as("rho"))
  }

  /** Pass 1 of [[heavyHittersExact]]: the per-partition Misra–Gries
    * candidate union, ≤ phi counters live per partition and ≤ phi
    * candidates emitted per partition — exposed so ScaleProbeSpec can
    * assert the candidate-volume bound (≤ partitions·phi) that the
    * 100 TB claim rests on. */
  def mgCandidates(df: DataFrame, itemCol: String, phi: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    df.select(col(itemCol).cast("string")).as(Encoders.STRING).mapPartitions { it =>
      val ctr = new scala.collection.mutable.HashMap[String, Long]()
      it.foreach { t =>
        if (ctr.contains(t)) ctr(t) += 1
        else if (ctr.size < phi) ctr(t) = 1L
        else {
          // decrement-all step: the new item and one unit of every
          // counter annihilate; zeroed counters free their slot
          ctr.mapValuesInPlace((_, v) => v - 1)
          ctr.filterInPlace((_, v) => v > 0)
        }
      }
      ctr.keysIterator
    }(Encoders.STRING).toDF(itemCol).distinct()
  }

  /** Delta-method standard error for a RATIO metric in an A/B test —
    * the experimentation-platform staple that a per-event t-test gets
    * WRONG: for metrics like revenue-per-event the randomization unit
    * (user) differs from the analysis unit (event), so R̂ = ΣX_u/ΣY_u
    * is a ratio of correlated user-level sums and its variance needs
    * the delta expansion Var(R̂) ≈ (varX − 2R·covXY + R²·varY)/(n·ȳ²)
    * over user aggregates, not an event-level variance.
    *
    * Output: ONE row — per-arm user counts, ratios (6 dp) and delta
    * SEs (6 dp), plus the two-sample z computed FROM the rounded
    * ratio/SE columns (documented, so the oracle spells the identical
    * inputs). Guards: an arm with n < 2 users or ΣY = 0 emits NULL
    * ratio/SE, and z NULLs if either side is NULL or the pooled SE
    * is 0.
    *
    * Determinism: per-user sums are exact DECIMAL(18,scale); per-arm
    * power sums (ΣX, ΣX², ΣY, ΣY², ΣXY) are exact decimal/bigint
    * aggregates (X² stays inside precision 38 from the (18,scale)
    * staging), so every float is a correctly-rounded closed form over
    * exact sums. Scale shape: one user-keyed hash aggregate (the only
    * corpus shuffle) → one O(1)-state per-arm aggregate → a 1-row
    * conditional-max pivot. */
  def ratioMetricDelta(df: DataFrame, unitCol: String, armCol: String,
      valueCol: String, armA: String, armB: String,
      scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val users = df.filter(col(valueCol).isNotNull)
      .groupBy(col(armCol).as("_arm"), col(unitCol).as("_u"))
      .agg(sum(col(valueCol).cast(dt)).cast(dt).as("_x"),
        count(lit(1)).as("_y"))
    val arms = users.groupBy("_arm").agg(
      count(lit(1)).as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_y") * col("_y")).cast("double").as("_syy"),
      sum(col("_x") * col("_y").cast(DecimalType(18, 0))).cast("double").as("_sxy"))
    val n = col("_n").cast("double")
    val r = col("_sx") / col("_sy")
    val ybar = col("_sy") / n
    val varX = (col("_sxx") - col("_sx") * col("_sx") / n) / (n - 1.0)
    val varY = (col("_syy") - col("_sy") * col("_sy") / n) / (n - 1.0)
    val covXY = (col("_sxy") - col("_sx") * col("_sy") / n) / (n - 1.0)
    val ok = col("_n") >= 2 && col("_sy") =!= 0.0
    val per = arms.select(col("_arm"), col("_n"),
      when(ok, Canon.rk(r, 6)).as("_r"),
      when(ok, Canon.rk(
        sqrt((varX - lit(2.0) * r * covXY + r * r * varY) / n) / ybar, 6)).as("_se"))
    val a = (c: Column) => max(when(col("_arm") === armA, c))
    val b = (c: Column) => max(when(col("_arm") === armB, c))
    val pooled = sqrt(a(col("_se")) * a(col("_se")) + b(col("_se")) * b(col("_se")))
    per.agg(
      a(col("_n")).as("n_a"), b(col("_n")).as("n_b"),
      a(col("_r")).as("ratio_a"), b(col("_r")).as("ratio_b"),
      a(col("_se")).as("se_a"), b(col("_se")).as("se_b"),
      when(pooled =!= 0.0,
        Canon.r4((a(col("_r")) - b(col("_r"))) / pooled)).as("z"))
  }

  /** In-sample regression diagnostics per group for the closed-form
    * OLS fit y ~ x ([[linRegByGroup]]'s model): n, RMSE, MAE, MAPE and
    * R² — the eval table a model-monitoring job reads next to the
    * coefficients (is the fit actually usable, and where does it
    * degrade?).
    *
    * Determinism: the fitted slope/intercept are computed once from
    * exact decimal power sums (one correctly-rounded float expression
    * each), grid-rounded to 6 dp and CAST to DECIMAL(18,6) — from
    * there every residual is EXACT decimal arithmetic (the slope×x
    * product re-stages at (28,8) before the intercept add — without
    * that, Spark's precision-38 cap rounds the add to scale 7 and the
    * residual's 8th decimal silently disappears; see the inline note —
    * then |e| and e² sum in decimal), so Σ|e| and Σe² are associative
    * and arrival-order free. MAPE's per-row ratio is the one float per row; it
    * grid-rounds to 6 dp and folds in DECIMAL(28,6) (the adamic_adar
    * pattern). R² = 1 − SSE/SST with SST from the same exact power
    * sums. MAPE's per-row term is |e| / |y| over the y ≠ 0 rows only,
    * and its mean divides by THAT row count (not n) — zero-actual
    * rows neither blow up the ratio nor dilute the mean, and an
    * all-zero-y group reports NULL mape. Residuals are re-derived
    * (the ONLY way to get |e| — no
    * closed form exists), squared after a CAST to DECIMAL(18,8) so
    * the square stays inside precision 38 with its full 16-digit
    * scale (squaring the wide product directly truncates scale — the
    * agg_skewness_kurtosis trap).
    *
    * Scale shape: two passes over the fact frame (one fit aggregate,
    * one residual aggregate) with the k-row coefficient table
    * broadcast between them — the frame is deliberately NOT pinned:
    * re-scanning a columnar source twice beats materializing a
    * fact-sized checkpoint, and both passes are map-side-combined
    * hash aggregates with O(1) state per group. Zero-variance groups
    * (den = 0) emit NULL metrics in both engines. */
  def regressionEvalByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, scale: Int = 2): DataFrame = {
    val dt = DecimalType(18, scale)
    val d6 = DecimalType(18, 6)
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"), col(xCol).cast(dt).as("_x"),
        col(yCol).cast(dt).as("_y"))
    val s = base.groupBy("_g").agg(
      count(lit(1)).as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"),
      sum(col("_y") * col("_y")).cast("double").as("_syy"))
    val n = col("_n").cast("double")
    val den = n * col("_sxx") - col("_sx") * col("_sx")
    val coef = s.select(col("_g"), col("_n"), col("_sy"), col("_syy"),
      when(den =!= 0.0, Canon.rk(
        (n * col("_sxy") - col("_sx") * col("_sy")) / den, 6).cast(d6)).as("_sl"),
      when(den =!= 0.0, Canon.rk(
        (col("_sy") * col("_sxx") - col("_sx") * col("_sxy")) / den, 6).cast(d6)).as("_ic"))
    // the product must be re-staged at (28,8) before the add: Spark's
    // (18,6)×(18,2) multiply yields precision 37, and adding the
    // (18,6) intercept to THAT pushes past 38 — the add comes back as
    // DECIMAL(38,7), silently HALF_UP-rounding the residual's 8th
    // decimal (measured on 4.1.2; lossless on integral x only, which
    // is why the shipped key never caught it). The (28,8) cast is
    // value-exact (user-scale coefficients × money-scale x), keeps
    // the add at (29,8) and the subtract at (30,8) — fully exact.
    // The oracle carries the same cast for a parallel spelling even
    // though DuckDB's widths never overflow here.
    val e = (col("_y")
      - (col("_ic") + (col("_sl") * col("_x")).cast(DecimalType(28, 8))))
      .cast(DecimalType(18, 8))
    val r = base.join(broadcast(coef.select("_g", "_sl", "_ic")), "_g")
      .select(col("_g"), e.as("_e"), col("_y"))
    val a = r.groupBy("_g").agg(
      sum(col("_e") * col("_e")).cast("double").as("_sse"),
      sum(abs(col("_e"))).cast("double").as("_sae"),
      // MAPE: per-row term is |e| / |y| (abs in the DENOMINATOR too —
      // a signed y would let negative-actual terms cancel positive
      // ones), y = 0 rows are excluded from BOTH the numerator and the
      // divisor count (their ratio is undefined; an unguarded Inf
      // would NULL in Spark's non-ANSI cast but ERROR in DuckDB's) —
      // the standard "MAPE undefined at zero actuals" convention,
      // decided on the exact decimal so the verdict cannot differ
      // between engines
      sum(when(col("_y") =!= lit(0).cast(dt),
        Canon.rk(abs(col("_e").cast("double")) / abs(col("_y").cast("double")), 6)
          .cast(DecimalType(28, 6)))).cast("double").as("_sape"),
      count(when(col("_y") =!= lit(0).cast(dt), lit(1))).as("_nape"))
    val sst = col("_syy") - col("_sy") * col("_sy") / n
    coef.join(a, "_g")
      .select(col("_g").as(groupCol), col("_n").as("n"),
        Canon.r4(sqrt(col("_sse") / n)).as("rmse"),
        Canon.r4(col("_sae") / n).as("mae"),
        when(col("_nape") =!= 0L,
          Canon.r4(col("_sape") / col("_nape").cast("double"))).as("mape"),
        when(sst =!= 0.0, Canon.r4(lit(1.0) - col("_sse") / sst)).as("r2"))
  }

  /** k-fold cross-validated OLS — the OUT-OF-SAMPLE twin of
    * [[linRegByGroup]] + [[regressionEvalByGroup]] (both in-sample):
    * the model-selection readout a pipeline needs before trusting a
    * trend line. Every fold's model trains on the OTHER k−1 folds via
    * the leave-fold-out closed form: ONE aggregate produces per-fold
    * exact-decimal power sums (n, Σx, Σy, Σx², Σxy); fold f's training
    * sums are total − fold_f — a k-row decimal subtraction, so no
    * second pass over the data to train and no row ever contributes to
    * its own model. Sums stay DECIMAL (exact, associative — the §7.3
    * rule) through the subtraction and cast to double only inside the
    * slope/intercept formula; coefficients grid-round to 6 dp
    * (DECIMAL(18,6)) before the scoring pass, so held-out residuals
    * are EXACT decimal off grid coefficients — the
    * [[regressionEvalByGroup]] residual discipline, including the
    * (28,8) product staging that keeps Spark's decimal adds lossless.
    * Two fact passes total (stats + scoring), with only the k-row
    * coefficient table broadcast between them — at 100 TB this is two
    * map-side-combined scans and zero row-scale shuffles.
    * Output per fold: n_train, n_test, slope, intercept (r4 readouts
    * of the 6 dp grid), out-of-sample rmse and mae. */
  def crossValLinReg(df: DataFrame, foldCol: String, xCol: String,
      yCol: String, scale: Int = 2): DataFrame = Checkpoints.scope {
    val dt = DecimalType(18, scale)
    val d6 = DecimalType(18, 6)
    // NOTE (r22, measured): a keyed Fanout.byKey spread of the fact
    // rows (hash on (_f,_x,_y), sort-free) benched 1.61→1.72 s — the
    // two decimal-sum passes are too light at this scale to amortize
    // the exchange. Reverted.
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(foldCol).as("_f"), col(xCol).cast(dt).as("_x"),
        col(yCol).cast(dt).as("_y"))
    // the k-row stats frame is PINNED (eager, tiny) because two
    // consumers branch off it — the totals rollup and the per-fold
    // join side; without the pin each branch re-runs the fact scan,
    // turning the promised two passes into three
    val s = Checkpoints.pin(base.groupBy("_f").agg(
      count(lit(1)).as("_n"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_x") * col("_y")).as("_sxy")))
    // totals re-aggregate the k-row fold table: decimal adds are exact
    // and associative, so total − fold is bit-identical to aggregating
    // the complement directly (what the oracle also spells)
    val tot = s.agg(sum(col("_n")).as("_tn"), sum(col("_sx")).as("_tsx"),
      sum(col("_sy")).as("_tsy"), sum(col("_sxx")).as("_tsxx"),
      sum(col("_sxy")).as("_tsxy"))
    val tn = (col("_tn") - col("_n")).cast("double")
    val tsx = (col("_tsx") - col("_sx")).cast("double")
    val tsy = (col("_tsy") - col("_sy")).cast("double")
    val tsxx = (col("_tsxx") - col("_sxx")).cast("double")
    val tsxy = (col("_tsxy") - col("_sxy")).cast("double")
    val den = tn * tsxx - tsx * tsx
    val coef = s.crossJoin(broadcast(tot)).select(col("_f"),
      (col("_tn") - col("_n")).as("n_train"), col("_n").as("n_test"),
      when(den =!= 0.0,
        Canon.rk((tn * tsxy - tsx * tsy) / den, 6).cast(d6)).as("_sl"),
      when(den =!= 0.0,
        Canon.rk((tsy * tsxx - tsx * tsxy) / den, 6).cast(d6)).as("_ic"))
    // held-out scoring: exact decimal residual off the 6 dp grid —
    // same (28,8) staging as regressionEvalByGroup (Spark's
    // (18,6)×(18,2) product at (37,6) would push the add past
    // precision 38 and silently round the 8th decimal).
    // Residual WIDTH asymmetry vs the oracle is deliberate, not drift
    // (r18 ADVICE adjudication): the DuckDB twin stages at (19,8)
    // because width ≥ 19 is what forces its sum(e*e) multiply into
    // int128 (the r18 trap — (18,8) overflows its int64 path), while
    // Spark MUST stay at (18,8) because (18,8)² = (37,16) is the
    // widest exact square under the precision-38 cap — a (20,8)
    // staging would make e*e precision 41 and Spark would silently
    // scale-reduce it. Contract this buys: |residual| < 10^10 (ample
    // for any y the money-scale fixture schema can hold); a y domain
    // beyond that nulls the Spark cast AND busts the oracle's (19,8),
    // so the two engines fail together, loudly, in the hash compare.
    val e = (col("_y")
      - (col("_ic") + (col("_sl") * col("_x")).cast(DecimalType(28, 8))))
      .cast(DecimalType(18, 8))
    val a = base.join(broadcast(coef.select("_f", "_sl", "_ic")), "_f")
      .groupBy("_f").agg(
        sum(e * e).cast("double").as("_sse"),
        sum(abs(e)).cast("double").as("_sae"))
    coef.join(a, "_f")
      .select(col("_f").as(foldCol), col("n_train"), col("n_test"),
        Canon.r4(col("_sl").cast("double")).as("slope"),
        Canon.r4(col("_ic").cast("double")).as("intercept"),
        Canon.r4(sqrt(col("_sse") / col("n_test").cast("double"))).as("rmse"),
        Canon.r4(col("_sae") / col("n_test").cast("double")).as("mae"))
  }
}
