package graft.sources

import org.apache.spark.sql.DataFrame

/** Write-path layouts for the 100 TB warehouse side of the engine.
  *
  * A scan that cannot prune is the first thing that breaks at scale:
  * `writePartitioned` lays data out as one directory per key value
  * (language, IVF cell id, date) so a filter on that key skips whole
  * directories at planning time, and `writeBucketed` pre-shuffles rows
  * into a fixed number of bucket files per key so later equi-joins and
  * aggregations on that key run with NO exchange at all — the
  * "cell id as a write-time partition key" layout the IVF and dedup
  * operators assume downstream.
  */
object Writers {
  /** Microsecond-precision timestamp format for the text sinks AND
    * their read-back — the sources' default format truncates fractions
    * to milliseconds, which silently breaks µs round-trips. One
    * constant so writer, reader, and tests cannot drift apart. */
  val MicrosTimestampFormat: Map[String, String] =
    Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Scratch dir for round-trip keys: keyed by the input digest (scale
    * factors never collide) AND the JVM pid (two concurrent processes
    * at the same scale factor never race each other's overwrite
    * against an in-flight read). Bounded accumulation — one dir per
    * (prefix, input, process); overwrite mode reuses it within a JVM,
    * and a shutdown hook deletes every dir this JVM created, so dead
    * runs leave nothing behind in /tmp (r10 nit: dead-pid dirs used to
    * accumulate across sessions). */
  def roundTripDir(prefix: String, input: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(input.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"${prefix}_${digest}_${ProcessHandle.current().pid()}").toString
    scratchDirs.synchronized { scratchDirs += dir }
    dir
  }

  /** Dirs handed out by [[roundTripDir]] in this JVM; the hook deletes
    * them at exit (recursively — they only ever hold our own parquet/
    * csv/json round-trip output, never user data). */
  private val scratchDirs = scala.collection.mutable.Set.empty[String]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.synchronized(scratchDirs.toSeq).foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        try rm(new java.io.File(d)) catch { case _: Throwable => () }
      }, "graft-scratch-cleanup"))
  }

  /** Directory-partitioned parquet: one `col=value/` dir per distinct
    * value. Use for low-cardinality derived keys (lang, cell id); reads
    * filtering on `partitionCol` prune at the file-index level and the
    * column is encoded in the path, not the data files. */
  def writePartitioned(df: DataFrame, partitionCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Bucketed + sorted external table at `path`: rows hash into
    * `buckets` files per partition by `bucketCol`, each file sorted by
    * it. Joins/aggs keyed on `bucketCol` between tables with the same
    * bucket spec are exchange-free (and sort-free). Bucket counts
    * should divide evenly into cluster cores; 100 TB guidance is
    * buckets ≈ data / (256 MB · partitions). */
  def writeBucketed(df: DataFrame, bucketCol: String, buckets: Int,
      table: String, path: String): Unit =
    writeBucketed(df, Seq(bucketCol), buckets, table, path)

  /** Composite-key variant: bucket (and sort) by several columns — the
    * layout for equi-joins on a composite key, e.g. a minhash banded
    * signature index bucketed by (_band, _bh) so batch probes join it
    * exchange-free. Join keys must list the bucket columns (same
    * hashing) for the bucketed side to skip its exchange. */
  def writeBucketed(df: DataFrame, bucketCols: Seq[String], buckets: Int,
      table: String, path: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Range-clustered parquet: `files` output files, each owning a
    * DISJOINT range of `rangeCol` (repartitionByRange) and sorted by it
    * within the file — so every parquet row group's footer min/max on
    * `rangeCol` is a tight interval and a range predicate prunes at ROW-
    * GROUP granularity inside the ordinary scan (no directory scheme,
    * no table format). The complement to [[writePartitioned]]: use
    * range clustering for high-cardinality ordered keys (timestamps,
    * ids) where one-directory-per-value is impossible. At 100 TB this
    * is the difference between decoding every row group under a
    * one-month predicate and decoding ~1/files of them; file count
    * follows the same ≈ data/256 MB guidance as bucketing. Range
    * boundaries come from Spark's reservoir sampling, so file SPLITS
    * may vary run to run — only the layout varies, never query
    * results; WritePathSpec measures the pruning. */
  def writeRangeClustered(df: DataFrame, rangeCol: String, files: Int,
      path: String): Unit = {
    import org.apache.spark.sql.functions.col
    // Two silent pruning killers normalized at write time, because this
    // layout exists ONLY for min/max skipping (measured in
    // WritePathSpec / SURVEY §7.2 #12):
    //  - Spark's default parquet timestamp encoding is INT96, which
    //    carries no usable column statistics. Write µs INT64.
    //  - a TIMESTAMP_NTZ range column never prunes: Spark's parquet
    //    filter translation has no NTZ conversion, so the predicate
    //    reaches PushedFilters but no row-group filter is ever built
    //    (probe: NTZ scan emits 6000/6000 rows, the identical LTZ scan
    //    723). Fixture timestamps read as NTZ, so normalize the range
    //    column to the session-zone TIMESTAMP — values are identical
    //    instants under the engine's pinned UTC sessions.
    val conf = df.sparkSession.conf
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prevTsType = conf.getOption(tsTypeKey)
    conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try {
      val norm = df.schema(rangeCol).dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn(rangeCol, col(rangeCol).cast("timestamp"))
        case _ => df
      }
      norm.repartitionByRange(files, col(rangeCol))
        .sortWithinPartitions(rangeCol)
        .write.mode("overwrite").parquet(path)
    } finally {
      prevTsType match {
        case Some(v) => conf.set(tsTypeKey, v)
        case None    => conf.unset(tsTypeKey)
      }
    }
  }

  /** Z-order (Morton-curve) clustered layout over TWO numeric
    * columns — the data-skipping lever when queries filter EITHER of
    * two high-cardinality keys: a single-column range layout
    * ([[writeRangeClustered]]) prunes only its own column, while
    * interleaving the columns' bucket bits gives every file a small
    * min/max rectangle in BOTH dimensions, so each single-column
    * predicate overlaps ~√files of the files instead of all of them.
    * This is the OPTIMIZE ZORDER BY of Delta/Iceberg, done with plain
    * parquet + footer stats — no table format.
    *
    * Bucketing normalizes each column to `bits`-bit rank space from
    * its min/max (one cheap 4-number aggregate; the collect is 2
    * doubles per column, scale-free). The z-value is pure codegen bit
    * arithmetic — (2·bits) shift/or terms — feeding one
    * repartitionByRange + in-file sort, the same write shape as range
    * clustering. Min/max scaling keeps equal-width buckets; heavily
    * skewed keys would want rank-based boundaries (the same
    * reservoir-sampling trick repartitionByRange already applies to
    * the z-value itself, which is why skew degrades file BALANCE here,
    * not correctness). */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      files: Int, path: String, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val r = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).collect()(0)
    val (loA, hiA, loB, hiB) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val maxBucket = (1L << bits) - 1
    def bucket(c: String, lo: Double, hi: Double): org.apache.spark.sql.Column =
      if (hi <= lo) lit(0L)
      else least(lit(maxBucket), floor((col(c).cast("double") - lo) /
        (hi - lo) * maxBucket)).cast("long")
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(bucket(colA, loA, hiA), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bucket(colB, loB, hiB), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Line-delimited JSON sink — the interchange format for pipelines
    * that hand off to non-columnar consumers. Lossy for binary/exotic
    * types; parquet stays the canonical format. Pass
    * `timestampFormat -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"` in
    * `options` when timestamps must survive at µs precision — the
    * default format truncates fractions to milliseconds. */
  def writeJsonLines(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode("overwrite").options(options).json(path)

  /** Raw line-text sink: one line per row of a SINGLE string column.
    * The contract is single-line strings — an embedded newline would
    * split a row into two lines on read-back (the text format carries
    * no escaping), so callers own that invariant. */
  def writeTextLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** Header'd CSV sink for flat (scalar-typed) frames. Same µs
    * `timestampFormat` caveat as [[writeJsonLines]]. */
  def writeCsv(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode("overwrite").option("header", "true").options(options).csv(path)

  /** Compact a fragmented parquet directory (the small-files mess a
    * streaming ingest or an over-parallel write leaves behind — at
    * 100 TB the #1 scan-throughput killer: every file costs a task,
    * a footer read, and an open/close) into `ceil(bytes/targetBytes)`
    * files at `outPath`. Returns the file count written. The
    * repartition is a round-robin shuffle of the data ONCE — the same
    * cost OPTIMIZE pays on any lakehouse — sized from the actual
    * on-disk bytes, not row counts, so wide and narrow tables both
    * land near the target file size. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath).repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** ORC sink — the second columnar format, for interop with
    * Hive-lineage warehouses that hand the engine ORC instead of
    * parquet. Columnar + typed like parquet (schema travels with the
    * files, timestamps keep full precision, predicate pushdown works
    * on reads), so unlike the text sinks there is no format-string
    * caveat; parquet stays the canonical internal format. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}

/** Persistence for the engine's learned/index artifacts — the pieces
  * an incremental pipeline reuses across runs instead of recomputing:
  * the IVF/cell codebook (trainCodebook's output, consumed by ivfKnn
  * and every cell-blocked cosine operator) and trained model weights
  * (trainLogisticGD's output, consumed by linearScore). Both are
  * driver-resident arrays by design (bounded by k·dims / dims), so
  * they round-trip through tiny long-form parquet tables — readable
  * by any engine, schema-stable, and bitwise-exact (no text
  * formatting of floats). The MinHash signature index persists
  * separately via [[Writers.writeBucketed]] (see
  * Dedup.minhashIndexTables — a TABLE-sized artifact that must keep
  * its bucketed layout, not a driver array). */
object Artifacts {
  import org.apache.spark.sql.SparkSession

  /** Codebook → (cell, dim, value) parquet rows. */
  def saveCodebook(spark: SparkSession, centroids: Array[Array[Float]],
      path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (c, cell) <- centroids.zipWithIndex
      (v, dim) <- c.zipWithIndex
    } yield (cell, dim, v)
    rows.toSeq.toDF("cell", "dim", "value")
      .coalesce(1) // a codebook is KBs; one file reads in one task (coalesce: driver-local rows, no shuffle)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCodebook]] table back into the driver array the
    * similarity operators take. Bounded collect by construction. */
  def loadCodebook(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rows = spark.read.parquet(path)
      .select("cell", "dim", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    require(rows.nonEmpty, s"empty codebook at $path")
    require(rows.forall(t => t._1 >= 0 && t._2 >= 0),
      s"codebook at $path has negative (cell, dim) indices")
    val nCells = rows.map(_._1).max + 1
    val dims = rows.map(_._2).max + 1
    // a bare row-count check would accept a duplicated key masking a
    // missing one — validate the (cell, dim) key set is a bijection
    require(rows.map(t => (t._1, t._2)).distinct.length == rows.length,
      s"codebook at $path has duplicate (cell, dim) rows")
    require(rows.length == nCells * dims,
      s"codebook at $path is ragged: ${rows.length} rows for $nCells cells × $dims dims")
    val out = Array.ofDim[Float](nCells, dims)
    rows.foreach { case (c, d, v) => out(c)(d) = v }
    out
  }

  /** Weight vector → (i, value) parquet rows. */
  def saveWeights(spark: SparkSession, weights: Array[Double], path: String): Unit = {
    import spark.implicits._
    weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
      .toDF("i", "value")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadWeights(spark: SparkSession, path: String): Array[Double] = {
    val rows = spark.read.parquet(path).select("i", "value").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    require(rows.nonEmpty, s"empty weight vector at $path")
    require(rows.map(_._1).sorted.toSeq == rows.indices.toSeq,
      s"weight vector at $path has gaps/duplicates")
    val out = new Array[Double](rows.length)
    rows.foreach { case (i, w) => out(i) = w }
    out
  }
}

/** Read-side twins of [[Writers]] — schema-explicit so a 100 TB read
  * never pays schema inference (a full extra pass) and malformed rows
  * fail loudly instead of silently becoming nulls. */
object Readers {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.StructType

  def jsonLines(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").options(options).json(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("mode", "FAILFAST").options(options).csv(path)

  /** ORC read — schema passed explicitly anyway (same contract as the
    * text readers): a mismatched layout fails loudly at analysis
    * instead of resolving columns positionally or nulling them. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Raw line-text read: one row per line, single `value` column —
    * the format has no schema to pass. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
}
