package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Ranking {
  /** Global rank / dense_rank / percent_rank / ntile over
    * (bandCol DESC, tieCol ASC) with NO single-partition window over
    * the data — the two-pass decomposition of a global ranking:
    *
    *  1. one aggregate computes per-band row counts; a window over that
    *     TINY table (cardinality = #bands, not #rows) yields each
    *     band's cumulative preceding count and dense rank;
    *  2. rank / dense_rank / percent_rank / cume_dist depend only on
    *     the band (all rows in a band tie), so they broadcast-join
    *     back as lookups;
    *  3. the global row number needed by ntile = band's preceding count
    *     + row_number within the band (a per-band window, parallel over
    *     bands); the tile index then follows in closed form from the
    *     SQL ntile bucket sizes (first n%k buckets get ⌈n/k⌉ rows).
    *
    * At extreme skew (one band ≫ executor memory) step 3's per-band
    * window would recurse once more on a sub-bucket of tieCol — same
    * pattern, cumulative counts per (band, sub-bucket). */
  def bandedRanks(df: DataFrame, bandCol: String, tieCol: String, tiles: Int): DataFrame = {
    val stats = df.groupBy(bandCol).agg(count(lit(1)).as("_bn"))
    val ws = Window.orderBy(col(bandCol).desc)
    // the grand total rides the SAME tiny single-partition window as
    // the cumulative counts (full frame), not a 1-row cross join — the
    // band table is the only thing windowed, never the fact rows
    val cum = stats
      .withColumn("_before", coalesce(
        sum(col("_bn")).over(ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_drnk", row_number().over(ws).cast("long"))
      .withColumn("_n", sum(col("_bn")).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val wb = Window.partitionBy(bandCol).orderBy(col(tieCol).asc)
    val k = lit(tiles.toLong)
    val rn = col("_before") + row_number().over(wb).cast("long") // global row number
    // Column `/` is double division; floor+cast keeps the arithmetic
    // exact for n < 2^53
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val base = idiv(col("_n"), k)                                // ⌊n/k⌋
    val rem = col("_n") % k
    val boundary = rem * (base + 1)                              // rows in the fat buckets
    // base = 0 only when n < tiles, where boundary = n makes the
    // otherwise-branch unreachable — but guard the divisor anyway so
    // the expression stays ANSI-safe if a refactor ever hoists it out
    // of the CaseWhen short-circuit (floor(x/0) throws under ANSI mode)
    val safeBase = greatest(base, lit(1L))
    df.join(broadcast(cum), bandCol)
      .withColumn("rnk", col("_before") + 1)
      .withColumn("drnk", col("_drnk"))
      .withColumn("prnk", when(col("_n") > 1,
        col("_before").cast("double") / (col("_n") - 1).cast("double")).otherwise(0.0))
      // cume_dist depends only on the band too: (rows ≤ this band)/n
      .withColumn("cdist",
        (col("_before") + col("_bn")).cast("double") / col("_n").cast("double"))
      .withColumn("_rn", rn)
      .withColumn("tile",
        when(col("_rn") <= boundary, idiv(col("_rn") - 1, base + 1) + 1)
          .otherwise(rem + idiv(col("_rn") - boundary - 1, safeBase) + 1))
      .drop("_bn", "_before", "_n", "_rn")
  }
}
