package graft.tools

import graft.{GraftSession, Tables}
import graft.streaming.{GraftEvent, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: the streaming THROUGHPUT / STATE measurement —
  * `runMain graft.tools.StreamScaleBench <sfDir> [filesPerTrigger]`
  * replays the events table through the parquet file source in
  * time-ordered micro-batches UNDER THE ROCKSDB STATE STORE (the
  * 100 TB state backend) for each stateful streaming shape the engine
  * declares, and prints one `STREAMSCALE {...}` JSON line per key
  * (consumed into STREAM_SCALE_r{N}.json).
  *
  * StreamingParitySpec proves the SEMANTICS (stream == batch); this
  * tool measures what the spec cannot: micro-batch throughput
  * (rows/sec over the drained replay) and state growth (state-store
  * rows, memory, RocksDB SST bytes from the final progress) — run at
  * sf0.1 and at the Scale10GenAll 10× events fixture, the artifact
  * shows whether state scales with the WINDOW GRID (tumbling/sliding:
  * must stay flat at 10× rows) or with the KEY universe
  * (session/dedup/stateful: must grow ∝ users/ids, never ∝ batches).
  *
  * Replay layout: events sorted by ts into range files, so file order
  * ≈ event-time order and watermarks advance realistically (an
  * unordered replay would drop most rows as late and fake the
  * throughput). Sinks are `noop` — measuring the sink is not the
  * point, and a memory sink at 1M rows would measure the driver.
  */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val filesPerTrigger = if (args.length > 1) args(1).toInt else 2
    val nFiles = 16
    val spark = GraftSession(32)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val ev = Tables.events(spark, sfDir)
    val totalRows = ev.count()
    val replayDir = java.nio.file.Files
      .createTempDirectory("graft-streamscale").toString
    // range-partition by ts → part file path order ≈ time order
    ev.repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(replayDir)
    val ckRoot = java.nio.file.Files
      .createTempDirectory("graft-streamscale-ck").toString

    def stream(): DataFrame = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(replayDir)

    def run(key: String, transform: DataFrame => DataFrame,
        mode: String): Unit = {
      val t0 = System.nanoTime()
      val q = transform(stream()).writeStream.format("noop")
        .option("checkpointLocation", s"$ckRoot/$key")
        .outputMode(mode).start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val inRows = progs.map(_.numInputRows).sum
      val last = q.recentProgress.lastOption
      // SUM across state operators: a dedup+agg pipeline carries TWO
      // stores, and the interesting one (the id store) is not head
      val stateOps = last.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
      val stateRows = if (stateOps.isEmpty) -1L else stateOps.map(_.numRowsTotal).sum
      val stateMem = if (stateOps.isEmpty) -1L else stateOps.map(_.memoryUsedBytes).sum
      val sst = stateOps.map { so =>
        val m = so.customMetrics
        // RocksDB reports SST bytes under this metric in Spark 4.x;
        // absent (e.g. a stateless shape) → 0
        m.getOrDefault("rocksdbSstFileSize",
          m.getOrDefault("rocksdbTotalSSTFilesBytes", 0L)).longValue()
      }.sum
      val maxBatchMs = progs
        .map(p => p.durationMs.getOrDefault("triggerExecution", 0L).longValue())
        .foldLeft(0L)((a, b) => math.max(a, b))
      q.stop()
      println(s"""STREAMSCALE {"key":"$key","rows":$inRows,""" +
        f""""wall_sec":$wall%.3f,"rows_per_sec":${inRows / wall}%.0f,""" +
        s""""n_batches":${progs.length},"state_rows":$stateRows,""" +
        s""""state_mem_bytes":$stateMem,"rocksdb_sst_bytes":$sst,""" +
        s""""max_batch_ms":$maxBatchMs}""")
    }

    run("stream_tumbling_counts", StreamOps.tumblingAgg, "complete")
    run("stream_sliding_counts", StreamOps.slidingAgg, "complete")
    run("stream_session_windows",
      e => StreamOps.sessionAgg(e.withWatermark("ts", "10 minutes")), "append")
    run("stream_dedup_ids",
      e => e.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy("event_type").agg(count(lit(1)).as("n")), "update")
    run("stream_stateful_user_stats",
      e => StreamOps.userStatsStateful(e.as[GraftEvent]).toDF(), "update")

    // stream-stream interval join (r20): two watermarked sides off the
    // same time-ordered replay; the range condition bounds join state
    // to the hour window behind the watermark, so state_rows must
    // track the unexpired horizon, never the stream length. The
    // transform ignores the runner's frame and builds both sides
    // itself (a join needs two source scans); rows counts BOTH scans.
    def side(tpe: String): DataFrame =
      stream().filter(col("event_type") === tpe).withWatermark("ts", "2 hours")
    run("stream_stream_join",
      _ => StreamOps.clickPurchaseJoin(side("click"), side("purchase")),
      "append")

    // CDC apply loop (r20): foreachBatch SCD-1 merge of each batch's
    // per-user latest row into a running snapshot — the state lives in
    // the snapshot TABLE, not a state store, so the state_rows printed
    // here is the snapshot's row count (= distinct users: the CDC
    // state model's bound) read back after the drain. The superseded
    // snapshot frame is freed per batch (the pin/free loop discipline)
    // so driver state stays O(1) frames.
    locally {
      val t0 = System.nanoTime()
      var snapshot: DataFrame = null
      var inRows = 0L
      var nBatches = 0
      val q = stream().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
          val latest = batch.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1)
            .select(col("user_id"), col("event_type").as("last_type"),
              col("value").as("last_value"), col("ts").as("last_ts"))
          val next = graft.api.Checkpoints.pin(
            if (snapshot == null) latest
            else graft.api.Maintenance.upsertMerge(snapshot, latest, "user_id")
              .drop("action"))
          if (snapshot != null) graft.api.Checkpoints.free(snapshot)
          snapshot = next
          inRows += batch.count()
          nBatches += 1
          ()
        }
        .option("checkpointLocation", s"$ckRoot/stream_cdc_upsert").start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      val stateRows = if (snapshot == null) 0L else snapshot.count()
      if (snapshot != null) graft.api.Checkpoints.free(snapshot)
      println(s"""STREAMSCALE {"key":"stream_cdc_upsert","rows":$inRows,""" +
        f""""wall_sec":$wall%.3f,"rows_per_sec":${inRows / wall}%.0f,""" +
        s""""n_batches":$nBatches,"state_rows":$stateRows,""" +
        s""""state_mem_bytes":-1,"rocksdb_sst_bytes":-1,""" +
        s""""max_batch_ms":-1}""")
    }

    println(s"""STREAMSCALE_META {"sf":"$sfDir","total_rows":$totalRows,""" +
      s""""files":$nFiles,"files_per_trigger":$filesPerTrigger}""")
    spark.stop()
  }
}
