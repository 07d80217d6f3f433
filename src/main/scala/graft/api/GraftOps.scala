package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable


/** Public, fixture-independent operator API — what a user of the
  * reference library would call against their own tables. The declared
  * contract queries (graft.operators.*) are thin bindings of these
  * onto the test corpus.
  *
  * Every operation takes a DataFrame plus column names and returns a
  * DataFrame (optimizer-visible). Driver-side state is bounded:
  * `MlPipeline.trainLogisticGD` collects O(dims) weights and
  * `Similarity.trainCodebook` O(sampleSize) vectors; nothing else
  * collects. The multi-branch dedup constructors (`minhashPairs`,
  * `nearJaccardPairs`/`ngramJaccardPairs`, `jaccardPairsAgainstIndex`,
  * `connectedComponents`) materialize their shared hash tables EAGERLY
  * at call time (Checkpoints.pin) — building the frame runs those
  * jobs; see the r4 known-trap on lazy-checkpoint races for why.
  */
private[graft] object Fanout {
  /** Spread a SCAN-shaped input across all cores: a small parquet
    * input arrives as ONE scan partition, and a map-side UDF/BHJ chain
    * would otherwise run the whole corpus's work on a single core.
    * Explicit numPartitions so AQE does not coalesce it away.
    *
    * Two gates keep this a no-op everywhere else:
    *  1. only NARROW plans (scan + project/filter/generate) are
    *     probed — anything containing a join/aggregate/repartition is
    *     already parallelized by its own exchange, and probing it via
    *     `df.rdd` under AQE would EXECUTE the upstream stages just to
    *     read a partition count. For narrow plans the probe is pure
    *     planning (no exchange ⇒ no stage to run).
    *  2. a narrow input already at or above the target partition count
    *     is returned unchanged — on cluster-scale inputs the
    *     repartition would be a gratuitous extra shuffle. */
  def apply(df: DataFrame): DataFrame =
    spread(df)(_.repartition(_))

  /** Keyed variant: spread by HASH repartitioning on `keys` instead of
    * round-robin. Two structural wins over apply() for explode-heavy
    * text pipelines (guide §2.4 share-one-exchange):
    *  1. a hash exchange skips the local sort every keyless
    *     repartition pays (`spark.sql.execution.sortBeforeRepartition`,
    *     the task-retry determinism guard — hash placement is already
    *     deterministic, so no sort is needed);
    *  2. a downstream aggregate/window whose grouping is a SUPERSET of
    *     `keys` (e.g. groupBy(id, token) after byKey(id)) is already
    *     clustered and plans NO second exchange.
    * Same narrow-plan + already-parallel gates as apply(): no-op at
    * cluster scale and on anything that owns an exchange. */
  def byKey(df: DataFrame, keys: Column*): DataFrame =
    spread(df)(_.repartition(_, keys: _*))

  private def spread(df: DataFrame)(
      repart: (DataFrame, Int) => DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrow = df.queryExecution.optimizedPlan.collect {
      case p if !(p.isInstanceOf[LeafNode] || p.isInstanceOf[Project] ||
        p.isInstanceOf[Filter] || p.isInstanceOf[Generate] ||
        p.isInstanceOf[SubqueryAlias]) => p
    }.isEmpty
    if (!narrow) return df
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (df.rdd.getNumPartitions >= target) df else repart(df, target)
  }
}

/** The driver-side fast paths' decide-and-deliver probe, shared by
  * the graph kernels, connected components, the PPJoin df table and
  * the BPE trainer: collect up to `maxRows + 1` rows of `df` — fewer
  * means it fits and the rows ARE the local input; hitting the cap
  * costs one bounded action and the caller takes its distributed
  * path. `maxRows <= 0` forces the distributed path. */
private[graft] object LocalProbe {
  def collectBounded(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (maxRows <= 0) None
    else {
      val cap = (math.min(maxRows, Int.MaxValue - 2L) + 1L).toInt
      val head = df.limit(cap).collect()
      if (head.length < cap) Some(head) else None
    }
}

/** Lifecycle and POSTURE for the eager checkpoints some constructors pin.
  *
  * RETENTION: a pin holds executor storage (or checkpoint files) until
  * it is freed, and freeing it before its readers are materialized
  * breaks them — a checkpoint has no lineage to recompute from. Pins
  * are owned by scope. While a [[scope]] is open on the calling thread,
  * every [[pin]] registers with it; when the body returns, the pins its
  * result still reads (a `LogicalRDD` leaf of the result's plan, or a
  * checkpointed RDD in such a leaf's lineage) pass to the enclosing
  * scope — or, outside every scope, to the caller, who releases them
  * with `free(result)` once the result is materialized — and every
  * other registered pin is freed; when the body throws, all of them
  * are. `SparkEntry.queries` runs each key in a scope, and so do the
  * pinning constructors of GraphOps, Dedup, Similarity, TimeSeriesOps
  * and StatsOps. Loops still free each superseded round themselves,
  * which also takes it out of the open scopes, so loop memory stays
  * bounded and nothing is freed twice.
  *
  * POSTURE (`spark.graft.checkpoint.reliable`, default `false`):
  * - `false` — `localCheckpoint()`: blocks live in executor storage
  *   with NO lineage behind them. Fastest on a single node, but a lost
  *   executor or a memory-pressure eviction makes the block
  *   unrecoverable ("Checkpoint block rdd_N_M not found") and kills
  *   every job that still references it. The right default for
  *   `local[*]`, where executor loss cannot happen.
  * - `true` — the CLUSTER posture: reliable `checkpoint()` to the
  *   directory in `spark.graft.checkpoint.dir` (set it to durable
  *   shared storage — HDFS/object store — on a real cluster; defaults
  *   to a process-local temp dir so local runs work out of the box).
  *   Lineage is truncated the same way (the loop-carried plans stay
  *   O(1) per round), but the data lives in FILES: an executor loss or
  *   block eviction recomputes nothing and loses nothing — tasks
  *   re-read the checkpoint. The cost is one write+read round trip per
  *   pinned frame, which for the loop-carried label/edge tables is
  *   marginal next to the joins they feed. */
object Checkpoints {
  private[graft] def reliable(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean

  private def ensureDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = spark.conf.getOption("spark.graft.checkpoint.dir").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      sc.setCheckpointDir(dir)
    }
  }

  /** The pins registered with each scope open on this thread, innermost
    * first, by RDD id. Not inheritable: a pool thread Spark starts
    * inside a scope must not hold on to its pins. */
  private val open = new ThreadLocal[List[mutable.Map[Int, RDD[_]]]] {
    override def initialValue(): List[mutable.Map[Int, RDD[_]]] = Nil
  }

  /** Materialize `df` exactly once (eagerly) under the session's
    * checkpoint posture — `localCheckpoint()` by default, a reliable
    * file-backed `checkpoint()` when `spark.graft.checkpoint.reliable`
    * is true. All loop-carried and multi-branch frames pin through
    * here, so ONE conf flips the whole library to the fault-tolerant
    * cluster posture. */
  def pin(df: DataFrame): DataFrame = {
    val p =
      if (reliable(df.sparkSession)) { ensureDir(df.sparkSession); df.checkpoint() }
      else df.localCheckpoint()
    open.get.headOption.foreach(_ ++= pins(p))
    p
  }

  /** Run `body` as the owner of the pins it makes (the retention rule
    * above). A result that is not a DataFrame carries no pins. The body
    * must not `return`: a non-local return is a throw, which would free
    * the pins of the value it returns. */
  def scope[T](body: => T): T = {
    val outer = open.get
    val mine = mutable.LinkedHashMap.empty[Int, RDD[_]]
    open.set(mine :: outer)
    val result =
      try body
      catch { case t: Throwable => release(mine.values.toList); throw t }
      finally open.set(outer)
    val carried = result match {
      case ds: Dataset[_] => pins(ds).keySet
      case _ => Set.empty[Int]
    }
    val (kept, dropped) = mine.partition { case (id, _) => carried(id) }
    release(dropped.values)
    outer.headOption.foreach(_ ++= kept)
    result
  }

  /** Release every pin `df` reads, each once (and delete its checkpoint
    * files, for reliably-checkpointed frames). Call only after `df`,
    * and anything else that reads the same pins, is materialized. */
  def free(df: DataFrame): Unit = release(pins(df).values)

  private def release(rdds: Iterable[RDD[_]]): Unit = rdds.foreach { rdd =>
    open.get.foreach(_ -= rdd.id)
    rdd.unpersist(false)
    // best-effort delete so a long session cannot fill the checkpoint dir
    rdd.getCheckpointFile.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () }
    }
  }

  /** The pins `ds` reads, by RDD id: its `LogicalRDD` leaves (in
    * subqueries too) plus every checkpointed RDD in their lineage — the
    * latter is how a frame built by `createDataFrame` over a pin's rows
    * reads it. */
  private def pins(ds: Dataset[_]): Map[Int, RDD[_]] = {
    val found = mutable.LinkedHashMap.empty[Int, RDD[_]]
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      if (r.isCheckpointed) found(r.id) = r
      r.dependencies.foreach(d => walk(d.rdd))
    }
    ds.queryExecution.analyzed
      .collectWithSubqueries { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
      .foreach { r => found(r.id) = r; walk(r) }
    found.toMap
  }
}
