package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object SkewJoins {
  /** Equi-join hardened against heavy-hitter keys: every probe row
    * picks a deterministic salt from a unique column's hash, the build
    * side is replicated `salts` times, and the join runs on
    * (key, salt) — one hot key spreads across `salts` tasks instead of
    * pinning one. Result is identical to the plain equi-join (each
    * probe row matches exactly the one build replica with its salt).
    * AQE's runtime skew split handles moderate skew on its own; this
    * is the explicit pre-salting for the pathological key at 100 TB,
    * at the cost of a `salts`× build-side shuffle. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      probeUniqueCol: String, salts: Int): DataFrame = {
    val salted = probe.withColumn("_salt", pmod(hash(col(probeUniqueCol)), lit(salts)))
    val replicated = build.withColumn("_salt",
      explode(lit((0 until salts).toArray)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Stats-derived salt factor: how many ways the probe's HOTTEST key
    * must split so no task carries more than the average task's row
    * share — `ceil(maxKeyRows / (totalRows / shuffle.partitions))`,
    * clamped to [1, maxSalts]. Computed by one narrow map-side-combined
    * aggregate over the probe key (shuffle ∝ distinct keys, a 2-long
    * collect), so it is deterministic for a given input + conf —
    * unlike AQE's runtime skew split, the decision is visible in the
    * plan and applies to the FIRST run, not after a stats refresh. */
  def derivedSaltFactor(probe: DataFrame, key: String,
      maxSalts: Int = 64): Int = {
    require(maxSalts >= 1, s"maxSalts must be >= 1, got $maxSalts")
    val parts = probe.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val stats = probe.groupBy(col(key)).agg(count(lit(1)).as("_n"))
      .agg(max(col("_n")).as("_max"), sum(col("_n")).as("_tot")).collect()(0)
    if (stats.isNullAt(0)) 1
    else {
      val mx = stats.getLong(0)
      val target = math.max(1L, stats.getLong(1) / math.max(1, parts))
      math.min(maxSalts.toLong, math.max(1L, (mx + target - 1) / target)).toInt
    }
  }

  /** [[saltedJoin]] with the salt factor derived from probe stats
    * ([[derivedSaltFactor]]), floored at `minSalts`: the floor lets a
    * caller pin a known-pathological key's minimum spread (or a demo
    * shape) while real skew can only RAISE the factor. k = 1 falls
    * through to the plain equi-join — salting costs a `salts`× build
    * replication, so an unskewed probe shouldn't pay it. */
  def saltedJoinAuto(probe: DataFrame, build: DataFrame, key: String,
      probeUniqueCol: String, minSalts: Int = 1,
      maxSalts: Int = 64): DataFrame = {
    val k = math.max(minSalts, derivedSaltFactor(probe, key, maxSalts))
    if (k <= 1) probe.join(build, Seq(key))
    else saltedJoin(probe, build, key, probeUniqueCol, k)
  }

  /** Semi-join with an EXPLICIT bloom-filter runtime pre-filter: the
    * dim side's keys build a distributed bloom sketch (aggregated on
    * the executors; only the ~MB bit array reaches the driver), which
    * probes the fact side as a codegen predicate BEFORE the exact
    * left-semi join. Answers are identical to the plain semi-join —
    * bloom false positives are removed by the exact join; false
    * negatives cannot happen.
    *
    * Why at 100 TB: a fact⋉dim semi-join where the dim survives a
    * selective filter still shuffles the ENTIRE fact side unless the
    * dim fits the broadcast threshold. The bloom costs one dim-side
    * aggregate + a rowwise probe at the fact SCAN, so only the ~fpp +
    * true-match fraction of fact rows reach the exchange — the
    * explicit, first-run-guaranteed form of Spark's
    * `runtime.bloomFilter` optimization (which only fires when stats
    * line up). `fpp` trades sketch size for shuffle savings: 1% keeps
    * the bit array ≈ 1.2 bytes/key. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // fail LOUDLY on non-integral keys: the probe casts to long, and a
    // string key would cast to NULL per row (non-ANSI), silently
    // dropping every fact row — including true matches — instead of
    // erroring. The long-key bloom is the scale-relevant shape; string
    // keys should hash to a long first (xxhash64) on BOTH sides.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(factKey -> fact.schema(factKey).dataType,
        dimKey -> dim.schema(dimKey).dataType).foreach { case (n, t) =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"bloomSemiJoin requires an integral key; $n is ${t.simpleString} — " +
          "hash non-integral keys to a long (e.g. xxhash64) on both sides first")
    }
    // expectedNumItems from an APPROX distinct-count of the dim keys —
    // bloom sizing tolerates estimate error, and the exact countDistinct
    // this used to run was a full extra distinct-shuffle of the dim side
    // (the operator already scans dim twice more: bloom build + exact
    // semi-join). HLL++ partial-aggregates map-side instead; rsd is a
    // STANDARD DEVIATION, not a bound, so we pin it to 2% — the 10%
    // headroom then sits ~5 sigma out, making an under-sized bloom
    // (and thus a real fpp above the requested one) vanishingly
    // unlikely; even then only filter selectivity suffers, never
    // correctness — the exact semi-join below decides membership
    val nKeys = math.max(1L, (1.1 *
      dim.select(col(dimKey)).agg(approx_count_distinct(col(dimKey), 0.02))
        .collect()(0).getLong(0)).toLong)
    val bloom = dim.stat.bloomFilter(dimKey, nKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probe = call_function("graft_bloom_probe",
      col(factKey).cast("long"), lit(bos.toByteArray))
    fact.filter(probe)
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }
}
