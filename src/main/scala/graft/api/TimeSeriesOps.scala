package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object TimeSeriesOps {
  /** As-of join: for each `left` row, the greatest `right` timestamp
    * ≤ its own, per key — one shuffle by key + one window pass, no
    * per-row subquery. Returns left rows + `asof_ts`. */
  def asofPrior(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, leftIdCol: String): DataFrame =
    asofJoin(left, right, keyCol, tsCol, leftIdCol, forward = false)

  /** Forward as-of join: for each `left` row, the SMALLEST `right`
    * timestamp ≥ its own, per key — the "next event after" twin of
    * [[asofPrior]]: same union + ONE window pass, scanned in
    * descending time order so the running `last` seen at a left row is
    * the nearest right timestamp at-or-after it (equal timestamps
    * match, `_kind` puts the right row first). Returns left rows +
    * `asof_ts`. */
  def asofNext(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, leftIdCol: String): DataFrame =
    asofJoin(left, right, keyCol, tsCol, leftIdCol, forward = true)

  /** Nearest as-of join: for each `left` row, the `right` timestamp
    * closest IN EITHER DIRECTION per key — |gap| minimized, ties to
    * the PRIOR side (matching [[asofPrior]]'s at-or-before bias; an
    * exact-equal right timestamp is both directions' answer anyway).
    * Returns left rows + `asof_ts` + `asof_dir`
    * (`prior` / `next` / NULL when the key has no right rows at all).
    *
    * Scale shape: the SAME one-shuffle union as the directional
    * joins, with BOTH running-`last` passes over that single key
    * partitioning — two window sorts, one exchange, never two joins
    * stitched back by a second shuffle on the left id. */
  /** CUSUM changepoint per series: the time-ordered point where the
    * cumulative deviation from the series mean peaks — the classic
    * level-shift detector (a step change makes |Σ(xᵢ − mean)| a tent
    * function peaking AT the shift).
    *
    * Integer-exact across engines: values grid-round to `scale` dp
    * units (vᵢ, bigint), and the mean never materializes — the k-th
    * cumulative deviation times n is D_k = n·Σᵢ≤ₖvᵢ − k·Σvᵢ, a pure
    * bigint expression whose argmax equals the float CUSUM's (scaling
    * by n·10^scale is monotone). Float cumulative sums would be
    * engine-hostile twice over: windowed SUM may accumulate via
    * segment trees (association varies), and iteration order is the
    * whole point here. Requires n²·max|v|·10^scale < 2⁶³ per series
    * (e.g. 1e5 points × values to 1e8 at scale 4). Ties on |D| break
    * to the EARLIEST point. Normalized `cusum` = D/(n·10^scale) =
    * Σ(v − mean) in value units at the peak.
    *
    * One shuffle on the series key; the window passes share its
    * partitioning (per-series sequential scan — series length, not
    * corpus size, bounds the critical path). The rn=1 pick rides the
    * bounded-heap TopKPerGroup rewrite under GraftExtensions. */
  def changepointCusum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, idCol: String, scale: Int = 4): DataFrame = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got $scale")
    val unit = math.pow(10.0, scale)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(idCol),
        floor(col(valueCol) * unit + 0.5).cast("long").as("_vi"))
    val wTot = Window.partitionBy(keyCol)
    val ord = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(idCol).asc)
    val wCum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = base
      .withColumn("_n", count(lit(1)).over(wTot))
      .withColumn("_s", sum(col("_vi")).over(wTot))
      .withColumn("_k", row_number().over(ord).cast("long"))
      .withColumn("_cum", sum(col("_vi")).over(wCum))
      .withColumn("_d", col("_n") * col("_cum") - col("_k") * col("_s"))
    val wPick = Window.partitionBy(keyCol)
      .orderBy(abs(col("_d")).desc, col(tsCol).asc, col(idCol).asc)
    d.withColumn("_rn", row_number().over(wPick))
      .filter(col("_rn") === 1)
      .select(col(keyCol), col(tsCol), col(idCol),
        col("_d").as("cusum_units"),
        Canon.r4(col("_d").cast("double") /
          (col("_n").cast("double") * unit)).as("cusum"))
  }

  def asofNearest(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, leftIdCol: String): DataFrame = {
    val r = right.select(col(keyCol), col(tsCol)).distinct()
      .select(col(keyCol), col(tsCol), lit(null).cast("long").as(leftIdCol), lit(0).as("_kind"))
    val l = left.select(col(keyCol), col(tsCol), col(leftIdCol), lit(1).as("_kind"))
    val wAsc = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc_nulls_first, col("_kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc_nulls_first, col("_kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rTs = when(col("_kind") === 0, col(tsCol))
    val gapP = unix_micros(col(tsCol)) - unix_micros(col("_prior_ts"))
    val gapN = unix_micros(col("_next_ts")) - unix_micros(col(tsCol))
    r.unionByName(l)
      .withColumn("_prior_ts", last(rTs, ignoreNulls = true).over(wAsc))
      .withColumn("_next_ts", last(rTs, ignoreNulls = true).over(wDesc))
      .filter(col("_kind") === 1)
      .withColumn("asof_ts",
        when(col("_prior_ts").isNull, col("_next_ts"))
          .when(col("_next_ts").isNull, col("_prior_ts"))
          .when(gapP <= gapN, col("_prior_ts"))
          .otherwise(col("_next_ts")))
      .withColumn("asof_dir",
        when(col("_prior_ts").isNull && col("_next_ts").isNull, lit(null).cast("string"))
          .when(col("_prior_ts").isNull, lit("next"))
          .when(col("_next_ts").isNull, lit("prior"))
          .when(gapP <= gapN, lit("prior"))
          .otherwise(lit("next")))
      .drop("_kind", "_prior_ts", "_next_ts")
  }

  /** Shared body of the two as-of directions. NULL timestamps match
    * nothing in either direction (the native ASOF-join behavior both
    * DuckDB twins have): null-ts rows sort FIRST in both scan orders,
    * so a null-ts left row's frame holds no right timestamps and a
    * null-ts right row is ignored by the running `last(ignoreNulls)`. */
  private def asofJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, leftIdCol: String,
      forward: Boolean): DataFrame = {
    val r = right.select(col(keyCol), col(tsCol)).distinct()
      .select(col(keyCol), col(tsCol), lit(null).cast("long").as(leftIdCol), lit(0).as("_kind"))
    val l = left.select(col(keyCol), col(tsCol), col(leftIdCol), lit(1).as("_kind"))
    val order = if (forward) col(tsCol).desc_nulls_first else col(tsCol).asc_nulls_first
    val w = Window.partitionBy(keyCol)
      .orderBy(order, col("_kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("asof_ts", last(when(col("_kind") === 0, col(tsCol)), ignoreNulls = true).over(w))
      .filter(col("_kind") === 1)
      .drop("_kind")
  }

  /** Last-touch attribution: each conversion event is credited to the
    * user's most recent `touchType` event at-or-before it, bucketed by
    * the touch→conversion gap — `instant` (≤ 1 h), `same_day` (≤ 24 h),
    * `week` (≤ `windowUs`), and `organic` (no touch inside the window,
    * including never-touched users) — then rolled up to (channel,
    * conversions, revenue). The marketing-attribution report every
    * event warehouse serves.
    *
    * Scale shape: the touch lookup is [[asofPrior]] (one shuffle on the
    * user key + one window pass — never a per-conversion subquery);
    * the value fetch is an equi-join on the conversion id against the
    * (conversion-count-sized) asof output; revenue sums in DECIMAL
    * (associative — deterministic at any merge order). NULL gaps fall
    * through the bucket CASE to `organic` via the leading isNull arm. */
  def lastTouchAttribution(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, valueCol: String,
      convType: String, touchType: String, windowUs: Long,
      valueScale: Int = 2): DataFrame = {
    require(windowUs >= 86400000000L,
      s"attribution window must be >= 1 day (the same_day bucket), got $windowUs us")
    val conv = df.filter(col(typeCol) === convType)
      .select(col(userCol), col(tsCol), col(idCol))
    val touch = df.filter(col(typeCol) === touchType)
    val vals = df.filter(col(typeCol) === convType)
      .select(col(idCol), col(valueCol))
    val gap = unix_micros(col(tsCol)) - unix_micros(col("asof_ts"))
    asofPrior(conv, touch, userCol, tsCol, idCol)
      .join(vals, idCol)
      .withColumn("channel",
        when(col("asof_ts").isNull || gap > windowUs, "organic")
          .when(gap <= 3600000000L, "instant")
          .when(gap <= 86400000000L, "same_day")
          .otherwise("week"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        Canon.sumDec(col(valueCol), valueScale).as("revenue"))
  }

  /** Resample events into fixed epoch-aligned bins per key, emitting a
    * DENSE grid: every (key, bin) between the corpus min and max bin
    * appears, empty bins zero-filled — the gap-fill shape every
    * time-series consumer (charting, anomaly windows, rate limits)
    * needs before it can difference or smooth.
    *
    * Scale: the observed bins are one hash aggregate; the dense grid is
    * keys × `sequence(min, max, step)` — cardinality bins·keys, NOT
    * rows — built from a broadcast 1-row range and joined back with a
    * left join on (key, bin). No window, no per-row state.
    *
    * (r15 note: a per-key map-pack variant — collect each key's bins
    * into one map row and unroll with `element_at` lookups — measured
    * 5× SLOWER at sf0.1: Spark's ArrayBasedMapData `element_at` is a
    * LINEAR scan, so the unroll is O(bins²) per key, and the whole
    * grid runs at |keys|-way parallelism. The (key,bin) equi-join
    * keeps every stage hash-parallel; consumers needing per-key
    * partitioning (ewmaSmooth's window) pay one key exchange.) */
  def resampleGapfill(df: DataFrame, tsCol: String, keyCol: String,
      binSeconds: Int): DataFrame = {
    val bin = timestamp_seconds(
      floor(unix_timestamp(col(tsCol)) / binSeconds).cast("long") * binSeconds)
    val counts = df.select(col(keyCol), bin.as("bin"))
      .groupBy(keyCol, "bin").agg(count(lit(1)).as("n"))
    val range = counts.agg(min(col("bin")).as("_minb"), max(col("bin")).as("_maxb"))
    val grid = df.select(col(keyCol)).distinct()
      .crossJoin(broadcast(range))
      .select(col(keyCol), explode(sequence(col("_minb"), col("_maxb"),
        expr(s"INTERVAL $binSeconds SECONDS"))).as("bin"))
    grid.join(counts, Seq(keyCol, "bin"), "left")
      .select(col(keyCol), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Seasonality-adjusted anomaly detection over the dense
    * [[resampleGapfill]] grid: each bin's count is z-scored against
    * the mean/std of ITS OWN hour-of-day slot for its key, and the
    * `topK` largest |z| bins per key are reported — the detector that
    * a raw global z-score ([[anomalyZscore]]-style) cannot be: a
    * quiet 3 a.m. spike that is invisible next to the daily peak is
    * exactly what the diurnal baseline (`ts_seasonal_hourly`'s
    * profile) exposes.
    *
    * Determinism: per-(key, hod) Σx and Σx² are exact bigint sums
    * over the grid, so μ, σ, and every z are identical correctly-
    * rounded floats in both engines; ranking is |z| DESC with the bin
    * timestamp as a total tie-break. Slots with n < 2 grid points or
    * zero variance are excluded (no z exists).
    *
    * Scale shape: the gapfilled grid is ∝ keys × horizon bins (never
    * corpus rows) and is pinned — it fans into the slot aggregate AND
    * the z join (§7.2); the slot table (keys × 24) broadcasts back;
    * one rank window per key over the grid. */
  def seasonalAnomalies(df: DataFrame, tsCol: String, keyCol: String,
      binSeconds: Int, topK: Int): DataFrame = Checkpoints.scope {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val g = Checkpoints.pin(
      resampleGapfill(df, tsCol, keyCol, binSeconds)
        .select(col(keyCol), col("bin"), col("n"), hour(col("bin")).as("hod")))
    val slots = g.groupBy(col(keyCol), col("hod"))
      .agg(count(lit(1)).as("_c"), sum(col("n")).as("_s"),
        sum(col("n") * col("n")).as("_q"))
    val c = col("_c").cast("double")
    val mu = col("_s").cast("double") / c
    val variance = (col("_q").cast("double")
      - col("_s").cast("double") * col("_s").cast("double") / c) / (c - 1.0)
    val z = (col("n").cast("double") - mu) / sqrt(variance)
    val scored = g.join(broadcast(slots), Seq(keyCol, "hod"))
      .filter(col("_c") >= 2 && variance > 0.0)
      .select(col(keyCol), col("bin"), col("hod"), col("n"), z.as("_z"))
    val w = Window.partitionBy(keyCol).orderBy(abs(col("_z")).desc, col("bin"))
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topK)
      .select(col(keyCol), Canon.tsStr(col("bin")).as("win_start"),
        col("hod").cast("long").as("hod"), col("n"),
        Canon.r4(col("_z")).as("z"))
  }

  /** Cross-correlation between two series over the dense
    * [[resampleGapfill]] grid: Pearson corr of (x_t, y_{t+k}) for each
    * lag k in [−maxLag, maxLag] — "does series Y follow series X, and
    * by how many bins?", the lead/lag detector behind funnel timing
    * and cascading-failure forensics. Zero-filled bins COUNT (two
    * series silent together is signal), which is why this runs on the
    * gap-filled grid, not raw events.
    *
    * Engine-portable like [[StatsOps.corrMatrixExact]]: power sums in
    * exact DECIMAL, float enters once in the closed form (sqrt is
    * correctly-rounded IEEE); zero-variance windows guard to NULL on
    * the exact-sums denominator.
    *
    * Scale shape: lags ride ONE equi-join — the y series explodes to
    * its ≤ 2·maxLag+1 (lag, bin−k) target rows and joins x on the bin
    * index (the ewma explode-to-target trick), then one hash aggregate
    * per lag. Never a join per lag, never a window. */
  def crossCorrelation(df: DataFrame, tsCol: String, typeCol: String,
      typeX: String, typeY: String, binSeconds: Int,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 16, s"maxLag must be in [1,16], got $maxLag")
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    val g = resampleGapfill(df.filter(col(typeCol).isin(typeX, typeY)),
      tsCol, typeCol, binSeconds)
    val bi = (unix_timestamp(col("bin")) / binSeconds).cast("long")
    // each series zero-fills from the grid's BIN set, not just its own
    // rows: a series with no events at all is the constant-0 series
    // over the other's range (lags emitted, xcorr NULL via the
    // variance guard) — without this the inner lag join would emit
    // zero rows for a missing series while a grid-based twin emits
    // the lag rows
    val bins = g.select(bi.as("_i")).distinct()
    def series(t: String, out: String) = bins
      .join(g.filter(col(typeCol) === t).select(bi.as("_i"), col("n")),
        Seq("_i"), "left")
      .select(col("_i"), coalesce(col("n"), lit(0L)).cast(dec).as(out))
    val x = series(typeX, "_x")
    val y = series(typeY, "_y")
      .withColumnRenamed("_i", "_iy")
      .withColumn("_k", explode(lit((-maxLag to maxLag).toArray)))
      .select(col("_k"), (col("_iy") - col("_k")).as("_i"), col("_y"))
    val agged = x.join(y, "_i").groupBy("_k").agg(
      count(lit(1)).as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_y") * col("_y")).cast("double").as("_syy"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"))
    val n = col("_n").cast("double")
    val denx = n * col("_sxx") - col("_sx") * col("_sx")
    val deny = n * col("_syy") - col("_sy") * col("_sy")
    agged.select(col("_k").cast("long").as("lag"), col("_n").as("n"),
      when(denx =!= 0.0 && deny =!= 0.0, Canon.r4(
        (n * col("_sxy") - col("_sx") * col("_sy"))
          / (sqrt(denx) * sqrt(deny)))).as("xcorr"))
  }

  /** Truncated exponentially-weighted moving average over the dense
    * [[resampleGapfill]] grid: per series,
    * s_t = Σ_{k=0..W−1} d^k·x_{t−k} / Σ d^k (available history only —
    * pandas `adjust=True` normalization, truncated at `window` bins).
    * The smoothing step of a metric/anomaly pipeline, after resample
    * and before thresholding.
    *
    * Engine-portable BY CONSTRUCTION: the decay d = 7/10 is applied as
    * exact INTEGER weights 7^k·10^(W−1−k) (ratio d^k; max 10^11, long-
    * safe), so numerator and denominator are exact integer sums in any
    * engine and float enters once, at the final division (r4-rounded
    * by the caller). A float `pow(0.7, k)` here would gamble the hash
    * gate on two libms rounding identically.
    *
    * Scale shape: ONE window pass, partitioned by key and ordered by
    * bin — "k bins back" is `lag(x, k)` guarded by `lag(idx, k) ==
    * idx − k` (on the dense grid the guard is always true; on a gappy
    * input it DROPS the mismatched term rather than silently weighting
    * the wrong bin — the grid precondition fails conservative, not
    * wrong). All `2·window` lags share one frame, so the whole
    * smoothing step is ONE key exchange + one sort (r15; the previous
    * explode-to-target-index equi-join re-shuffled grid·window rows
    * through (key, index) and back — 3 exchanges for the same
    * integers). Never a key-equi join with the range as a
    * POST-filter, which Spark plans as a per-key cartesian (373M
    * filtered pairs at sf0.1, measured 5.9 s).
    *
    * `valueScale`: `valCol` is summed in exact DECIMAL at this scale
    * (default 0 — counts). A fractional input beyond the declared
    * scale is silently HALF_UP-rounded by the decimal cast, so pass
    * the scale your values actually carry (e.g. 2 for money). */
  def ewmaSmooth(grid: DataFrame, keyCol: String, binCol: String,
      valCol: String, binSeconds: Int, window: Int = 12,
      valueScale: Int = 0): DataFrame = {
    require(window >= 1 && window <= 16,
      s"window must be in [1,16] (integer weights overflow past 7^15·10), got $window")
    require(valueScale >= 0 && valueScale <= 8,
      s"valueScale must be in [0,8], got $valueScale")
    val w = Array.tabulate(window)(k =>
      BigInt(7).pow(k) * BigInt(10).pow(window - 1 - k))
    require(w.forall(_.isValidLong))
    // DECIMAL sums, not long: weights reach 1e11, so a bin value past
    // ~9.2e7 would overflow the long product and WRAP silently under
    // non-ANSI Spark (DuckDB promotes to HUGEINT — the engines would
    // diverge exactly when the data gets big). Decimal keeps both
    // sides exact at any scale; float still enters only at the final
    // division.
    val decW = org.apache.spark.sql.types.DecimalType(20, 0)
    val decX = org.apache.spark.sql.types.DecimalType(18 + valueScale, valueScale)
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(binCol))
    val idx = (unix_timestamp(col(binCol)) / binSeconds).cast("long")
    val terms = (0 until window).map { k =>
      val hit = if (k == 0) lit(true) else lag(idx, k).over(ord) === idx - k
      val x = (if (k == 0) col(valCol) else lag(col(valCol), k).over(ord)).cast(decX)
      val wk = lit(w(k).toLong).cast(decW)
      (when(hit && x.isNotNull, wk * x).otherwise(lit(0).cast(decW) * lit(0).cast(decX)),
        when(hit && x.isNotNull, wk).otherwise(lit(0).cast(decW)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    grid.select(col(keyCol), col(binCol),
      (num.cast("double") / den.cast("double")).as("ewma"), col(valCol))
  }

  /** Session assignment with an inactivity gap (batch; the streaming
    * twin is graft.streaming.StreamOps.sessionAgg). */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gap: String): DataFrame =
    df.groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Ordered conversion funnel: for each user, stage i+1 counts only if
    * an event of `stages(i+1)`'s type occurs STRICTLY AFTER the user's
    * stage-i time and within `stepUs` microseconds of it; a user's
    * stage time is the EARLIEST qualifying event. Returns one row per
    * stage: (stage 1-based, event_type, users).
    *
    * Scale shape: one filtered aggregate per stage over the event
    * stream plus an equi-join on user against the (monotonically
    * shrinking) reached-users table — never a window over a per-user
    * sort of the full stream. The join is stats-derived by design: the
    * reached side starts at |users| and only shrinks, so AQE broadcasts
    * it when it fits and equi-shuffles otherwise. */
  def conversionFunnel(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String], stepUs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stepUs > 0, s"stage window must be > 0 us, got $stepUs")
    val base = df.select(col(userCol).as("_u"), col(typeCol).as("_e"),
      unix_micros(col(tsCol)).as("_us"))
    var reached = base.filter(col("_e") === stages.head)
      .groupBy("_u").agg(min(col("_us")).as("_t"))
    val perStage = scala.collection.mutable.Buffer(stages.head -> reached)
    stages.tail.foreach { st =>
      reached = base.filter(col("_e") === st)
        .join(reached.select(col("_u"), col("_t").as("_pt")), "_u")
        .filter(col("_us") > col("_pt") && col("_us") <= col("_pt") + stepUs)
        .groupBy("_u").agg(min(col("_us")).as("_t"))
      perStage += st -> reached
    }
    perStage.zipWithIndex.map { case ((st, d), i) =>
      d.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage"), lit(st).as("event_type"), col("users"))
    }.reduce(_ union _)
  }

  /** Batch sessionization: split each user's event stream into sessions
    * wherever the gap to the previous event exceeds `gapUs`, then emit
    * one row per session (user, session_id, n_events, start_us,
    * duration_us). `session_id` is the 1-based session ordinal within
    * the user, so output is a pure function of the input rows.
    *
    * Scale shape: ONE shuffle on the user key; the gap flag (lag) and
    * the session ordinal (running sum of flags) are two passes over the
    * same sort order inside that partitioning, and the final per-session
    * aggregate map-side-combines before its (user, session) exchange.
    * Never a global sort, never per-user driver state — the batch twin
    * of the streaming session_window operator. Ordering ties on the
    * timestamp break on `idCol`, so the split is deterministic. */
  def sessionize(df: DataFrame, userCol: String, idCol: String,
      tsCol: String, gapUs: Long): DataFrame = {
    require(gapUs > 0, s"session gap must be > 0 us, got $gapUs")
    val w = Window.partitionBy("_u").orderBy(col("_us").asc, col("_id").asc)
    df.select(col(userCol).as("_u"), col(idCol).as("_id"),
        unix_micros(col(tsCol)).as("_us"))
      .withColumn("_new",
        when(col("_us") - lag(col("_us"), 1).over(w) <= gapUs, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("session_id", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_u"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("_us")).as("start_us"),
        (max(col("_us")) - min(col("_us"))).as("duration_us"))
      .withColumnRenamed("_u", userCol)
  }

  /** Cohort retention: cohort = the epoch-day of a user's FIRST event;
    * for every (cohort_day, day_offset) cell, how many of that cohort's
    * users were active `day_offset` days after joining — the standard
    * retention triangle.
    *
    * Scale shape: (user, day) pairs are distinct-ed first (shuffle ∝
    * active user-days, not events), first-touch is one aggregate on the
    * user key, and the join back is user-keyed equi — each stage an
    * equi-shuffle with partial aggregation; after the distinct, each
    * user contributes at most one row per day, so the cell count is a
    * plain count(*), no count-distinct shuffle. Day arithmetic is
    * integral (`div`), identical in any engine. */
  def retentionCohorts(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val days = df.select(col(userCol).as("_u"), epochDay(tsCol).as("_day"))
      .distinct()
    val first = days.groupBy("_u").agg(min(col("_day")).as("_cohort"))
    days.join(first, "_u")
      .groupBy(col("_cohort").as("cohort_day"),
        (col("_day") - col("_cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Epoch day with FLOOR semantics, not `div` (which truncates toward
    * zero): the two agree post-1970 but diverge on negative micros, and
    * the DuckDB twin (`//`) floors — integral arithmetic keeps the
    * bucketing exact in both engines at any timestamp. */
  private def epochDay(tsCol: String): Column =
    expr(s"unix_micros(`$tsCol`) div 86400000000" +
      s" + (CASE WHEN unix_micros(`$tsCol`) % 86400000000 < 0 THEN -1 ELSE 0 END)")

  /** Daily + trailing-window active users: for every active day,
    * |distinct users that day| (DAU) and |distinct users in
    * [day − windowDays + 1, day]| (WAU for the default 7) — the
    * product-health report every event pipeline serves.
    *
    * Scale shape: (user, day) pairs are distinct-ed first (shuffle ∝
    * user-days, not events). DAU is one count per day. WAU replicates
    * each user-day to its ≤ windowDays trailing report days with a
    * rowwise bounded explode, distincts (user, report-day), and counts
    * — a constant-factor fanout of the small user-day table, instead
    * of the distinct-over-sliding-window no engine can aggregate
    * incrementally. */
  def activeUsers(df: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"window must be >= 1 day, got $windowDays")
    val days = df.select(col(userCol).as("_u"), epochDay(tsCol).as("_day"))
      .distinct()
    val dau = days.groupBy("_day").agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("_u"),
        explode(sequence(col("_day"), col("_day") + (windowDays - 1))).as("_rday"))
      .distinct()
      .groupBy("_rday").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("_day") === col("_rday"))
      .select(col("_day").as("day"), col("dau"), col("wau"))
  }

  /** Keyless interval join at scale: points vs intervals [lo, hi] with
    * NO equi key — the plan every naive formulation turns into a
    * cartesian/broadcast-nested-loop. Bin time at `binUs`: each point
    * owns exactly ONE bin, each interval replicates to its spanned
    * bins (fanout bounded by len/bin + 1), the join is an equi-join on
    * the bin id, and the exact containment filter runs after. Because
    * a point has a single bin, no candidate pair appears twice — no
    * dedup pass. Choose binUs ≈ the typical interval length: shorter
    * bins raise interval fanout, longer bins raise false candidates.
    * Floor-safe at negative timestamps (same semantics as the DuckDB
    * `//` twin). */
  def intervalJoinBucketed(points: DataFrame, intervals: DataFrame,
      pointUsCol: String, loCol: String, hiCol: String, binUs: Long): DataFrame = {
    require(binUs > 0, s"bin width must be > 0 us, got $binUs")
    def bin(c: String): Column =
      expr(s"`$c` div ${binUs}L + (CASE WHEN `$c` % ${binUs}L < 0 THEN -1 ELSE 0 END)")
    val p = points.withColumn("_bin", bin(pointUsCol))
    val iv = intervals.withColumn("_bin",
      explode(sequence(bin(loCol), bin(hiCol))))
    p.join(iv, "_bin")
      .filter(col(pointUsCol) >= col(loCol) && col(pointUsCol) <= col(hiCol))
      .drop("_bin")
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands computation: within a user's distinct active
    * days, `day − row_number()` is constant exactly on a consecutive
    * run, so grouping on that island key yields run lengths.
    *
    * Scale shape: distinct (user, day) first (∝ user-days), ONE
    * shuffle on the user key for the row_number window, then the
    * island and per-user aggregates reuse that partitioning (group
    * keys extend the user key — no further exchange needed for
    * co-location). */
  def activityStreaks(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy("_u").orderBy(col("_day").asc)
    df.select(col(userCol).as("_u"), epochDay(tsCol).as("_day"))
      .distinct()
      .withColumn("_island", col("_day") - row_number().over(w))
      .groupBy(col("_u"), col("_island"))
      .agg(count(lit(1)).as("_len"), min(col("_day")).as("_start"))
      .groupBy(col("_u"))
      .agg(max(col("_len")).as("max_streak"),
        count(lit(1)).as("n_streaks"),
        min(col("_start")).as("first_day"))
      .withColumnRenamed("_u", userCol)
  }

  /** Top-k most common length-`n` event-type sequences (user journeys):
    * each user's events ordered by (timestamp, id) form a path string
    * `a>b>c`; count every n-window of it corpus-wide — the path-mining
    * report behind funnel design.
    *
    * Scale shape: one shuffle on the user key into `collect_list` +
    * `sort_array` (per-user state ∝ that user's events — the same bound
    * every sessionization carries; a pathological user is one group,
    * not one partition), then a rowwise n-gram transform, explode, and
    * a partially-aggregated count with a TakeOrderedAndProject top-k.
    * Tie-break on the path string keeps the cut deterministic. */
  def topEventPaths(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 2, s"path length must be >= 2, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val grams = TextAnalysis.arrayNgrams(col("_ets"), n, ">")
    df.select(col(userCol).as("_u"),
        struct(unix_micros(col(tsCol)).as("_us"), col(idCol).as("_id"),
          col(typeCol).as("_e")).as("_s"))
      .groupBy("_u").agg(sort_array(collect_list(col("_s"))).as("_arr"))
      .select(expr("transform(_arr, x -> x._e)").as("_ets"))
      .select(explode(grams).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** First-order Markov transition model over per-key state sequences:
    * for every observed (state → next state) step, its count and the
    * row-normalized transition probability P(next | prev) — the
    * journey-graph summary behind path mining, and the state-machine
    * sanity check a pipeline runs over its own event logs.
    *
    * Scale shape: ONE shuffle on the key for the lag window (ordered
    * by (ts, id) so ties cannot flip the sequence between runs), then
    * a partially-aggregated count on the (prev, next) pair — state-pair
    * cardinality, not event cardinality — and the normalizing sum as a
    * window over that tiny pair table. Probabilities are pre-rounded
    * (Canon.r4) so the emitted value is engine-portable. */
  def markovTransitions(df: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val pairs = df
      .select(col(keyCol), col(stateCol).as("next_type"), col(tsCol), col(idCol))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
    val wPrev = Window.partitionBy(col("prev_type"))
    pairs
      .withColumn("p", Canon.r4(col("n").cast("double") / sum(col("n")).over(wPrev)))
      .select("prev_type", "next_type", "n", "p")
  }

  /** Peak concurrent sessions per epoch-hour — the capacity-planning
    * sweep line: sessionize, emit a +1/−1 boundary at each session's
    * start/end (closed intervals: a session ending the instant another
    * starts still overlaps it — starts apply before ends at the same
    * µs), and track the running active count. The prefix sum is
    * BANDED, never a single global window: boundaries collapse to one
    * row per distinct µs, the within-hour running net runs
    * partitioned by hour (parallel), and only the per-hour carry-in
    * offsets — |hours| rows — cross a global window before
    * broadcasting back. All arithmetic is integer counts; the hour
    * key is the epoch-hour integer (µs div 3.6e9), no timezone in
    * play. Output: (hour_bucket, n_changes, peak_concurrency). */
  def concurrencyPeak(df: DataFrame, userCol: String, idCol: String,
      tsCol: String, gapUs: Long): DataFrame = Checkpoints.scope {
    // sess feeds both union legs and byUs feeds the offsets AND the
    // within-hour window — pin both (§7.2 fan-out trap: unpinned,
    // sessionize's two window passes ran 2×, the boundary aggregate 2×)
    val sess = Checkpoints.pin(sessionize(df, userCol, idCol, tsCol, gapUs))
    val bounds = sess
      .select(col("start_us").as("_us"), lit(1L).as("_p"), lit(0L).as("_m"))
      .unionAll(sess.select((col("start_us") + col("duration_us")).as("_us"),
        lit(0L).as("_p"), lit(-1L).as("_m")))
    val byUs = Checkpoints.pin(bounds.groupBy("_us")
      .agg(sum(col("_p")).as("_p"), sum(col("_m")).as("_m"))
      .withColumn("_hour", expr("_us div 3600000000")))
    val wIn = Window.partitionBy("_hour").orderBy(col("_us").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBand = Window.orderBy(col("_hour").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = byUs.groupBy("_hour")
      .agg(sum(col("_p") + col("_m")).as("_net"))
      .withColumn("_carry", coalesce(sum(col("_net")).over(wBand), lit(0L)))
      .select(col("_hour"), col("_carry"))
    byUs
      .withColumn("_within", coalesce(sum(col("_p") + col("_m")).over(wIn), lit(0L)))
      .join(broadcast(offsets), "_hour")
      .withColumn("_active", col("_carry") + col("_within") + col("_p"))
      .groupBy("_hour").agg(count(lit(1)).as("n_changes"),
        max(col("_active")).as("peak_concurrency"))
      .withColumnRenamed("_hour", "hour_bucket")
  }

  /** Kaplan–Meier survival curve over a (duration, observed) table —
    * the churn / session-length / time-to-failure estimator that
    * handles CENSORED rows (observed = 0: the subject was still alive
    * when observation stopped, so its duration is a lower bound).
    * S(t) = Π_{event times ≤ t} (1 − dᵢ/nᵢ); censored rows leave the
    * risk set after their duration (at-risk AT their own tick, the
    * standard convention). Determinism: risk-set and death counts are
    * exact integers from hash aggregates; each log-factor
    * grid-rounds to 6 dp decimal before the cumulative sum (exact),
    * float re-enters once in exp(); a tick where the whole remaining
    * risk set dies pins S to exactly 0 from there on via an integer
    * flag, never via exp(−∞). Scale shape: one hash aggregate ∝
    * rows, then every window runs over the DISTINCT-durations table
    * (∝ the bucketed horizon, tiny). Output rows are event times
    * only (d > 0): (dur, n_risk, d_events, c_censored, survival). */
  def kaplanMeier(durations: DataFrame, durCol: String,
      obsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val rows = durations.select(col(durCol).as("dur"),
      col(obsCol).cast("long").as("_obs"))
    val tot = rows.agg(count(lit(1)).as("_n"))
    val byDur = rows
      .groupBy("dur").agg(count(lit(1)).as("_tot"), sum(col("_obs")).as("d"))
      .crossJoin(broadcast(tot))
    val wPrev = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCur = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk", col("_n") - coalesce(sum(col("_tot")).over(wPrev), lit(0L)))
      .withColumn("_zf", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("_lg", when(col("_zf") === 0, Canon.rk(
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")), 6))
        .otherwise(lit(0.0)).cast(DecimalType(28, 6)))
      .withColumn("_cz", sum(col("_zf")).over(wCur))
      .withColumn("_cl", sum(col("_lg")).over(wCur))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_risk"),
        col("d").as("d_events"), (col("_tot") - col("d")).as("c_censored"),
        when(col("_cz") > 0, lit(0.0))
          .otherwise(Canon.r4(exp(col("_cl").cast("double")))).as("survival"))
      .orderBy("dur")
  }
}
