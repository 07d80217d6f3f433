package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central fixture-table loaders (SURVEY §1.2).
  *
  * Every query reads through here (HarnessSpec guards it) so
  * scale-sensitive decisions (the events nanosecond fix, future
  * bucketing/partition hints) live in ONE place. All loads are plain
  * parquet scans — Catalyst pushes filters and prunes columns declared
  * downstream, so these stay cheap at any scale factor.
  *
  * Schema cache: `spark.read.parquet(file)` without a schema runs a
  * one-task Spark job per call to read the footer and infer the schema
  * (about 0.1 s, on every load of every key). The first load of a file
  * keeps Spark's own inferred schema, and later loads pass it with
  * `spark.read.schema(...)`, which plans without a job. An entry is
  * reused only while its key still holds:
  *  - the file's qualified path, and its length and modification time
  *    (a Hadoop `FileSystem` stat on every load, so a rewritten file is
  *    inferred again and replaces its entry);
  *  - the session's values of the confs in [[inferenceConfs]].
  * Entries live for the JVM, one per (file, conf values), so the map is
  * bounded by the fixture files. A directory, or a missing path (Spark
  * then raises its own error), is read with plain inference. Each load
  * still builds a new relation with fresh attribute ids, so self-joins
  * plan as before.
  */
object Tables {
  /** The confs whose session values change what parquet inference
    * returns for the same file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  /** (qualified path, inference conf values) -> ((length, mtime), schema) */
  private val inferred = new ConcurrentHashMap[(String, Seq[String]), ((Long, Long), StructType)]()

  private[graft] def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file match {
      case None => spark.read.parquet(path) // a directory, or Spark's own missing-path error
      case Some(st) =>
        val key = (fs.makeQualified(p).toString,
          inferenceConfs.map(k => spark.conf.getOption(k).orNull))
        val stamp = (st.getLen, st.getModificationTime)
        Option(inferred.get(key)).filter(_._1 == stamp) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            inferred.put(key, (stamp, df.schema))
            df
        }
    }
  }

  /** The fixture table `name`, with the per-table handling of its named
    * loader (`events` goes through [[events]]). */
  def byName(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` has shipped in two physical layouts across fixture
    * generations, so dispatch on the schema actually read:
    *
    *  - parquet timestamp[ns]: Spark 4 refuses it (`PARQUET_TYPE_ILLEGAL`)
    *    unless read as raw Long nanoseconds via the legacy flag; then
    *    integer-divide to microseconds (`div`, NOT `/` — float division
    *    loses precision above 2^53) and rebuild a timestamp. Matches
    *    DuckDB's native ns→µs truncation exactly (SURVEY §7.2 #1).
    *  - parquet timestamp[us] (isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ. Cast to the session-zone TIMESTAMP (sessions here
    *    pin UTC, so the instant is unchanged) so every downstream query
    *    and written output keeps the type the ns era produced.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType => // µs, not UTC-adjusted
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        // fail LOUDLY on a third layout — a silent cast here is exactly
        // the r11 drift class (38 bench queries errored under rc:0)
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other (expected " +
            "int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ); fixture layout " +
            "drifted — update Tables.events dispatch deliberately")
    }
  }
}
