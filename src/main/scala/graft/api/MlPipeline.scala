package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object MlPipeline {
  /** σ(w·x) per row against a fixed weight vector — the reference's
    * broadcast-weights forward pass. */
  def linearScore(df: DataFrame, vecCol: String, weights: Array[Double]): DataFrame =
    df.withColumn("score", Kernels.linearScoreUdf(weights)(col(vecCol)))

  /** Minibatch-GEMM forward pass: `mapPartitions` packs rows into a
    * column-major (dims × batch) buffer and scores each batch with ONE
    * BLAS `dgemv` call — the reference's actual per-executor shape
    * (pyspark-caffe fed per-partition minibatches to a broadcast Caffe
    * net's forward()), and the scale-true layout for wider models: the
    * per-row cost drops from a boxed UDF invocation to an amortized
    * slice of a SIMD-blocked multiply (`dev.ludovic.netlib` picks the
    * widest vector kernel the JVM offers; for a k-output model the same
    * buffer feeds one dgemm instead of k dgemv). Weights ship once per
    * executor via broadcast, exactly like [[linearScore]].
    *
    * Numerically: inputs are cast to double BEFORE the multiply (the
    * same contract as the UDF path and the DuckDB twin) and each output
    * is the same w·x sum — but BLAS may reassociate the accumulation,
    * so raw scores can differ from the sequential loop by ulps. The
    * declared callers round to 4 dp, which absorbs an ulp difference
    * EXCEPT for a score sitting exactly on a rounding-grid boundary;
    * no fixture row does (oracle- and bitwise-parity-checked at
    * sf0.001/0.01/0.1), but the guarantee is empirical per dataset,
    * not algebraic — a caller needing provable bit-parity with the
    * sequential path should use [[linearScore]]. */
  def linearScoreBatchGemm(df: DataFrame, idCol: String, vecCol: String,
      weights: Array[Double], batch: Int = 256): DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = df.sparkSession
    import spark.implicits._
    val bcW = spark.sparkContext.broadcast(weights)
    val dims = weights.length
    // fanout BEFORE the mapPartitions: a single-partition scan would
    // otherwise run every batch's GEMM on one core (SURVEY §7.2 #8 —
    // gated, so a no-op on cluster-scale inputs)
    Fanout(df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
        val w = bcW.value
        it.grouped(batch).flatMap { rows =>
          val m = rows.length
          val a = new Array[Double](dims * m)
          var i = 0
          while (i < m) {
            val v = rows(i)._2
            require(v.length == dims,
              s"vector length ${v.length} != weight dims $dims")
            System.arraycopy(v, 0, a, i * dims, dims)
            i += 1
          }
          val y = new Array[Double](m)
          blas.dgemv("T", dims, m, 1.0, a, dims, w, 1, 0.0, y, 1)
          rows.iterator.zipWithIndex.map { case ((id, _), j) =>
            (id, 1.0 / (1.0 + math.exp(-y(j))))
          }
        }
      }.toDF(idCol, "score")
  }

  /** k-class forward pass per row (boxed-UDF path): logits = W·x per
    * class, softmax → (pred = first-argmax class, p_max). The per-row
    * twin of [[multiclassScoreBatchGemm]], kept declared so the bench
    * artifact carries the per-row vs batched comparison at the
    * k-output shape. */
  def multiclassScore(df: DataFrame, idCol: String, vecCol: String,
      weights: Array[Array[Double]]): DataFrame =
    df.select(col(idCol),
        Kernels.multiclassScoreUdf(weights)(col(vecCol)).as("_mc"))
      .select(col(idCol), col("_mc._1").as("pred"), col("_mc._2").as("p_max"))

  /** k-class minibatch forward pass: ONE BLAS `dgemm` scores every
    * class of a 256-row batch — the shape the reference's
    * net.forward() actually had (a k-output layer over a minibatch)
    * and where batched BLAS genuinely amortizes: the k=1 `dgemv`
    * variant loses to the boxed UDF at 64 dims (the Dataset-encoder
    * boundary dominates one dot), but at k outputs the same buffer
    * feeds k×batch FLOPs per encoder crossing. Same numeric caveat as
    * [[linearScoreBatchGemm]]: BLAS may reassociate each w_c·x sum by
    * ulps; the scalar softmax/argmax tail is byte-shared with the UDF
    * path ([[Kernels.multiclassFromLogits]]), and declared callers
    * round p_max to 4 dp. */
  def multiclassScoreBatchGemm(df: DataFrame, idCol: String, vecCol: String,
      weights: Array[Array[Double]], batch: Int = 256,
      fanout: Boolean = true): DataFrame = {
    val k = weights.length
    require(k >= 1 && batch >= 1, s"need k >= 1 classes and batch >= 1")
    val dims = weights.head.length
    require(weights.forall(_.length == dims), "ragged weight matrix")
    val spark = df.sparkSession
    import spark.implicits._
    val bcW = spark.sparkContext.broadcast(weights)
    // the float encoder, NOT cast("array<double>"): the Catalyst cast
    // materializes a second array per row before the encoder copies it
    // again — measured as a real slice of the per-row cost at this
    // FLOP count (SURVEY's `ml_infer_multiclass_gemm` row). Floats widen
    // to double in the pack loop below, bit-identically to the cast.
    //
    // `fanout = false` skips the parallelizing repartition: a columnar
    // scan at scale arrives pre-split by row group, so the exchange
    // only ever fires on small single-file inputs — exactly where its
    // fixed stage cost can never amortize (same SURVEY row: the
    // exchange IS the entire gap between this path and the boxed UDF
    // at fixture scale). Keep the default true for callers whose input
    // may be a single UNSPLITTABLE large file (the SURVEY §7.2 #8 trap).
    val in0 = df.select(col(idCol).cast("long"), col(vecCol))
    val in = if (fanout) Fanout(in0) else in0
    in.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
        val ws = bcW.value
        // (dims × k) column-major: class c's weights occupy column c
        val wMat = new Array[Double](dims * k)
        var c = 0
        while (c < k) { System.arraycopy(ws(c), 0, wMat, c * dims, dims); c += 1 }
        it.grouped(batch).flatMap { rows =>
          val m = rows.length
          val a = new Array[Double](dims * m)
          var i = 0
          while (i < m) {
            val v = rows(i)._2
            require(v.length == dims,
              s"vector length ${v.length} != weight dims $dims")
            var j = 0
            while (j < dims) { a(i * dims + j) = v(j); j += 1 }
            i += 1
          }
          // Y = Aᵀ·W: (m × k) column-major, logit of (row j, class c)
          // lands at y(c*m + j)
          val y = new Array[Double](m * k)
          blas.dgemm("T", "N", m, k, dims, 1.0, a, dims, wMat, dims, 0.0, y, m)
          rows.iterator.zipWithIndex.map { case ((id, _), j) =>
            val (pred, pmax) = Kernels.multiclassFromLogits(
              Array.tabulate(k)(c => y(c * m + j)))
            (id, pred, pmax)
          }
        }
      }.toDF(idCol, "pred", "p_max")
  }

  /** 2-layer MLP forward pass, per-row UDF path: h = relu(W1·x + b1),
    * logits = W2·h + b2, softmax → (pred, p_max). The parity reference
    * for [[mlpScoreBatchGemm]]: every sum accumulates in ascending
    * index order, mirroring the DuckDB list-lambda oracle op-for-op. */
  def mlpScore(df: DataFrame, idCol: String, vecCol: String,
      w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double]): DataFrame =
    df.select(col(idCol),
        Kernels.mlpScoreUdf(w1, b1, w2, b2)(col(vecCol)).as("_mc"))
      .select(col(idCol), col("_mc._1").as("pred"), col("_mc._2").as("p_max"))

  /** 2-layer MLP minibatch forward pass — the reference's actual
    * stacked net.forward() shape (SURVEY §0.1 step 3): per 256-row
    * batch, ONE dgemm computes every hidden pre-activation
    * (m×H = Xᵀ·W1), the relu+bias tail transposes into the next
    * batch buffer, and a SECOND dgemm computes all class logits
    * (m×k = Hᵀ·W2); the scalar softmax/argmax tail is byte-shared
    * with the UDF path ([[Kernels.multiclassFromLogits]]). Weights
    * ship once per executor via broadcast.
    *
    * Same numeric caveat as [[linearScoreBatchGemm]]: BLAS may
    * reassociate each accumulation by ulps — here through TWO layers —
    * so declared callers round p_max to 4 dp and the UDF/GEMM parity
    * is empirical per dataset (ApiParitySpec at 4 dp), not algebraic. */
  def mlpScoreBatchGemm(df: DataFrame, idCol: String, vecCol: String,
      w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double], batch: Int = 256,
      fanout: Boolean = true): DataFrame = {
    val hDim = w1.length
    val k = w2.length
    require(hDim >= 1 && k >= 1 && batch >= 1,
      s"need hidden >= 1, classes >= 1, batch >= 1")
    val dims = w1.head.length
    require(w1.forall(_.length == dims), "ragged W1")
    require(b1.length == hDim && w2.forall(_.length == hDim) && b2.length == k,
      s"shape mismatch: W1 ${hDim}x$dims, b1 ${b1.length}, " +
        s"W2 ${k}x${w2.head.length}, b2 ${b2.length}")
    val spark = df.sparkSession
    import spark.implicits._
    val bcW = spark.sparkContext.broadcast((w1, b1, w2, b2))
    // float encoder + optional fanout: same measured rationale as
    // multiclassScoreBatchGemm (SURVEY `ml_infer_multiclass_gemm` row)
    val in0 = df.select(col(idCol).cast("long"), col(vecCol))
    val in = if (fanout) Fanout(in0) else in0
    in.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
        val (ws1, bs1, ws2, bs2) = bcW.value
        // (dims × H) and (H × k) column-major weight buffers
        val w1Mat = new Array[Double](dims * hDim)
        var h = 0
        while (h < hDim) { System.arraycopy(ws1(h), 0, w1Mat, h * dims, dims); h += 1 }
        val w2Mat = new Array[Double](hDim * k)
        var c = 0
        while (c < k) { System.arraycopy(ws2(c), 0, w2Mat, c * hDim, hDim); c += 1 }
        it.grouped(batch).flatMap { rows =>
          val m = rows.length
          val a = new Array[Double](dims * m)
          var i = 0
          while (i < m) {
            val v = rows(i)._2
            require(v.length == dims,
              s"vector length ${v.length} != weight dims $dims")
            var j = 0
            while (j < dims) { a(i * dims + j) = v(j); j += 1 }
            i += 1
          }
          // layer 1: Y1 = Aᵀ·W1 (m × H column-major; pre-activation of
          // (row i, hidden h) at y1(h*m + i))
          val y1 = new Array[Double](m * hDim)
          blas.dgemm("T", "N", m, hDim, dims, 1.0, a, dims, w1Mat, dims, 0.0, y1, m)
          // bias + relu, transposed into the layer-2 input buffer
          // (H × m column-major: row i's hidden vector = column i)
          val hMat = new Array[Double](hDim * m)
          i = 0
          while (i < m) {
            var j = 0
            while (j < hDim) {
              hMat(i * hDim + j) = math.max(0.0, y1(j * m + i) + bs1(j))
              j += 1
            }
            i += 1
          }
          // layer 2: Y2 = Hᵀ·W2 (m × k column-major)
          val y2 = new Array[Double](m * k)
          blas.dgemm("T", "N", m, k, hDim, 1.0, hMat, hDim, w2Mat, hDim, 0.0, y2, m)
          rows.iterator.zipWithIndex.map { case ((id, _), i2) =>
            val (pred, pmax) = Kernels.multiclassFromLogits(
              Array.tabulate(k)(c2 => y2(c2 * m + i2) + bs2(c2)))
            (id, pred, pmax)
          }
        }
      }.toDF(idCol, "pred", "p_max")
  }

  /** ROC AUC via the rank-sum (Mann-Whitney U) formula over SCORE
    * BINS: AUC = Σ_s nPos_s · (negBelow_s + nNeg_s / 2) / (P · N),
    * ties (equal scores) contributing half — exact on the binned
    * scores. Callers pass an already-rounded score column; binning on
    * the rounded grid is what makes the statistic engine-portable.
    *
    * Scale shape: one hash aggregate per DISTINCT score (shuffle ∝
    * bins, bounded by the rounding grid — ≤ ~10⁴ rows for 4 dp scores
    * in [0,1], at ANY corpus size), then the ordered cumulative pass
    * runs over that provably tiny table. Never a global sort or
    * per-row rank window over the data — the reason plain
    * rank-then-sum AUC breaks at 100 TB and this shape doesn't. The
    * numerator sums half-integer products of exact counts, so it is
    * order-independent in IEEE doubles (no decimal detour needed). */
  def aucBinned(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val bins = df.select(col(scoreCol).as("_s"), col(labelCol).cast("long").as("_y"))
      .groupBy("_s")
      .agg(sum(col("_y")).as("_np"), (count(lit(1)) - sum(col("_y"))).as("_nn"))
    val w = Window.orderBy(col("_s")).rowsBetween(Window.unboundedPreceding, -1)
    bins.withColumn("_below", coalesce(sum(col("_nn")).over(w), lit(0L)))
      .agg(sum(col("_np").cast("double")
          * (col("_below").cast("double") + col("_nn").cast("double") / 2.0)).as("_num"),
        sum(col("_np")).as("n_pos"), sum(col("_nn")).as("n_neg"))
      .select(Canon.r4(col("_num")
          / (col("n_pos").cast("double") * col("n_neg").cast("double"))).as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** Average precision (step-wise area under the P-R curve — the
    * sklearn average_precision_score convention): AP = Σ over distinct
    * scores DESC of ΔR·P = (np_i/n_pos)·(tp_i/rank_i). The
    * single-number P-R summary next to [[aucBinned]] — and the right
    * one for rare-positive retrieval, where ROC-AUC is inflated by
    * the true-negative mass it rewards.
    *
    * Same scale shape as [[aucBinned]]: one hash aggregate to the
    * distinct-score bin table, cumulative windows over those tiny
    * bins. Unlike AUC's half-integer numerator, the AP terms are
    * arbitrary ratios — each grid-rounds to 6 dp before an exact
    * decimal fold, so no cross-bin float sum exists. */
  def averagePrecisionBinned(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bins = df.select(col(scoreCol).as("_s"), col(labelCol).cast("long").as("_y"))
      .groupBy("_s").agg(sum(col("_y")).as("_np"), count(lit(1)).as("_nn"))
    val w = Window.orderBy(col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val c = bins.select(col("_np"),
      sum(col("_np")).over(w).as("_tp"),
      sum(col("_nn")).over(w).as("_rank"),
      sum(col("_np")).over(wAll).as("_pos"),
      sum(col("_nn") - col("_np")).over(wAll).as("_neg"))
    // zero positives → no P-R curve exists; NULL AP instead of an
    // ANSI 0/0 error (the ratioMetricDelta guard discipline)
    val term = when(col("_pos") > 0L, Canon.rk(
      (col("_np").cast("double") / col("_pos").cast("double"))
        * (col("_tp").cast("double") / col("_rank").cast("double")), 6)
      .cast(DecimalType(28, 6)))
    c.groupBy(col("_pos").as("n_pos"), col("_neg").as("n_neg"))
      .agg(Canon.r4(sum(term).cast("double")).as("avg_precision"))
  }

  /** Full-batch logistic-regression GD via treeAggregate: shuffle-free
    * tree reduction per step, O(dims) driver state — the reference's
    * broadcast+reduce training loop, which scales to 1000 executors. */
  def trainLogisticGD(df: DataFrame, vecCol: String, labelCol: String,
      steps: Int, lr: Double, dims: Int): Array[Double] = {
    val data = df.select(col(vecCol), col(labelCol).cast("double"))
      .rdd.map { r =>
        val e = r.getAs[scala.collection.Seq[Float]](0)
        val x = new Array[Double](e.length)
        var i = 0; while (i < e.length) { x(i) = e(i).toDouble; i += 1 }
        (x, r.getDouble(1))
      }.cache()
    val w = new Array[Double](dims)
    for (_ <- 1 to steps) {
      val (grad, n) = data.treeAggregate((new Array[Double](dims), 0L))(
        seqOp = { case ((g, cnt), (x, y)) =>
          var acc = 0.0
          var i = 0; while (i < dims) { acc += w(i) * x(i); i += 1 }
          val err = Kernels.sigmoid(acc) - y
          i = 0; while (i < dims) { g(i) += err * x(i); i += 1 }
          (g, cnt + 1L)
        },
        combOp = { case ((g1, n1), (g2, n2)) =>
          var i = 0; while (i < dims) { g1(i) += g2(i); i += 1 }
          (g1, n1 + n2)
        },
        depth = 2)
      // same 0/0 -> all-NaN hazard as trainMlpGD: fail loudly instead
      require(n > 0, "trainLogisticGD: empty training input (0 rows)")
      var i = 0
      while (i < dims) { w(i) -= lr * grad(i) / n; i += 1 }
    }
    data.unpersist(blocking = false)
    w
  }

  /** Full-batch gradient descent on the 2-layer MLP (relu hidden,
    * softmax + cross-entropy output) — per-layer BACKPROP distributed
    * the same way [[trainLogisticGD]] distributes its single layer:
    * parameters broadcast with each step's closure, per-row forward +
    * backward fused into the `treeAggregate` seqOp, gradients summed
    * shuffle-free up a depth-2 tree, update applied driver-side.
    * Driver state and per-step traffic are O(|params|) — independent
    * of corpus size, the property that lets the same loop run on 1000
    * executors. Returns (W1, b1, W2, b2) after `steps` updates.
    *
    * Backward, per row: d2 = softmax(logits) − onehot(y);
    * gW2 += d2⊗h, gb2 += d2; dh = W2ᵀ·d2 masked by relu'(h_pre);
    * gW1 += dh⊗x, gb1 += dh. The softmax is max-subtracted like the
    * inference tail, so logits cannot overflow exp(). */
  def trainMlpGD(df: DataFrame, vecCol: String, labelCol: String,
      steps: Int, lr: Double, dims: Int,
      w1Init: Array[Array[Double]], b1Init: Array[Double],
      w2Init: Array[Array[Double]], b2Init: Array[Double])
      : (Array[Array[Double]], Array[Double], Array[Array[Double]], Array[Double]) = {
    val hDim = w1Init.length
    val k = w2Init.length
    require(hDim >= 1 && k >= 2, s"need hidden >= 1 and classes >= 2")
    require(w1Init.forall(_.length == dims) && b1Init.length == hDim &&
      w2Init.forall(_.length == hDim) && b2Init.length == k, "shape mismatch")
    val data = df.select(col(vecCol), col(labelCol).cast("int"))
      .rdd.map { r =>
        val e = r.getAs[scala.collection.Seq[Float]](0)
        val x = new Array[Double](e.length)
        var i = 0; while (i < e.length) { x(i) = e(i).toDouble; i += 1 }
        (x, r.getInt(1))
      }.cache()
    // flat parameter/gradient layout: [W1 rows | b1 | W2 rows | b2]
    val pW1 = 0
    val pB1 = hDim * dims
    val pW2 = pB1 + hDim
    val pB2 = pW2 + k * hDim
    val nPar = pB2 + k
    val params = new Array[Double](nPar)
    for (j <- 0 until hDim) {
      System.arraycopy(w1Init(j), 0, params, pW1 + j * dims, dims)
      params(pB1 + j) = b1Init(j)
    }
    for (c <- 0 until k) {
      System.arraycopy(w2Init(c), 0, params, pW2 + c * hDim, hDim)
      params(pB2 + c) = b2Init(c)
    }
    for (_ <- 1 to steps) {
      val p = params.clone() // ships once per task via the closure
      val (grad, n) = data.treeAggregate((new Array[Double](nPar), 0L))(
        seqOp = { case ((g, cnt), (x, y)) =>
          // fail loudly on an out-of-range label: onehot(y) would
          // otherwise silently treat it as all-negative and corrupt
          // every gradient (r13 ADVICE)
          require(y >= 0 && y < k,
            s"label $y outside [0, $k) — remap labels before training")
          // forward
          val hPre = new Array[Double](hDim)
          val h = new Array[Double](hDim)
          var j = 0
          while (j < hDim) {
            var acc = p(pB1 + j)
            var i = 0; while (i < dims) { acc += p(pW1 + j * dims + i) * x(i); i += 1 }
            hPre(j) = acc; h(j) = math.max(0.0, acc)
            j += 1
          }
          val logits = new Array[Double](k)
          var c = 0
          while (c < k) {
            var acc = p(pB2 + c)
            var j2 = 0; while (j2 < hDim) { acc += p(pW2 + c * hDim + j2) * h(j2); j2 += 1 }
            logits(c) = acc
            c += 1
          }
          var lmax = logits(0)
          c = 1; while (c < k) { if (logits(c) > lmax) lmax = logits(c); c += 1 }
          var z = 0.0
          c = 0; while (c < k) { z += math.exp(logits(c) - lmax); c += 1 }
          // backward: d2 = softmax - onehot(y)
          val d2 = new Array[Double](k)
          c = 0
          while (c < k) {
            d2(c) = math.exp(logits(c) - lmax) / z - (if (c == y) 1.0 else 0.0)
            var j2 = 0
            while (j2 < hDim) { g(pW2 + c * hDim + j2) += d2(c) * h(j2); j2 += 1 }
            g(pB2 + c) += d2(c)
            c += 1
          }
          j = 0
          while (j < hDim) {
            if (hPre(j) > 0) { // relu mask
              var dh = 0.0
              var c2 = 0; while (c2 < k) { dh += p(pW2 + c2 * hDim + j) * d2(c2); c2 += 1 }
              var i = 0; while (i < dims) { g(pW1 + j * dims + i) += dh * x(i); i += 1 }
              g(pB1 + j) += dh
            }
            j += 1
          }
          (g, cnt + 1L)
        },
        combOp = { case ((g1, n1), (g2, n2)) =>
          var i = 0; while (i < nPar) { g1(i) += g2(i); i += 1 }
          (g1, n1 + n2)
        },
        depth = 2)
      // an empty input would make every update 0/0 -> all-NaN params
      // with no error anywhere downstream (r13 ADVICE)
      require(n > 0, "trainMlpGD: empty training input (0 rows)")
      var i = 0
      while (i < nPar) { params(i) -= lr * grad(i) / n; i += 1 }
    }
    data.unpersist(blocking = false)
    (Array.tabulate(hDim)(j => java.util.Arrays.copyOfRange(params, pW1 + j * dims, pW1 + (j + 1) * dims)),
      java.util.Arrays.copyOfRange(params, pB1, pB1 + hDim),
      Array.tabulate(k)(c => java.util.Arrays.copyOfRange(params, pW2 + c * hDim, pW2 + (c + 1) * hDim)),
      java.util.Arrays.copyOfRange(params, pB2, pB2 + k))
  }

  /** PCA fit over a float-vector column: (mean, top-`k` principal
    * components as rows, their eigenvalues desc) — the embedding
    * compressor (and whitening front-end) of a vector pipeline.
    *
    * Scale shape: moments ride ONE `treeAggregate` whose buffer is
    * d + d(d+1)/2 doubles (the upper-triangular second-moment sum) —
    * independent of row count, summed shuffle-free up a depth-2 tree;
    * the d×d eigenproblem is solved DRIVER-SIDE by cyclic Jacobi
    * (embedding dims are small; the O(d³) solve is microseconds next
    * to one corpus pass). Components are sign-canonicalized (largest-
    * magnitude coordinate positive) so the decomposition is unique up
    * to eigenvalue ties and runs reproduce bit-identically on a fixed
    * partitioning. */
  def pcaFit(df: DataFrame, vecCol: String, k: Int, dims: Int)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(k >= 1 && k <= dims, s"k must be in [1,$dims], got $k")
    val nUpper = dims * (dims + 1) / 2
    val data = df.select(col(vecCol)).rdd.map { r =>
      val e = r.getAs[scala.collection.Seq[Float]](0)
      val x = new Array[Double](dims)
      var i = 0; while (i < dims) { x(i) = e(i).toDouble; i += 1 }
      x
    }
    val (s1, s2, n) = data.treeAggregate(
      (new Array[Double](dims), new Array[Double](nUpper), 0L))(
      seqOp = { case ((m1, m2, cnt), x) =>
        var i = 0; var u = 0
        while (i < dims) {
          m1(i) += x(i)
          var j = i
          while (j < dims) { m2(u) += x(i) * x(j); j += 1; u += 1 }
          i += 1
        }
        (m1, m2, cnt + 1L)
      },
      combOp = { case ((a1, a2, n1), (b1, b2, n2)) =>
        var i = 0; while (i < dims) { a1(i) += b1(i); i += 1 }
        i = 0; while (i < nUpper) { a2(i) += b2(i); i += 1 }
        (a1, a2, n1 + n2)
      },
      depth = 2)
    require(n > 1, s"pcaFit: need at least 2 rows, got $n")
    val mean = s1.map(_ / n)
    // population covariance from the raw moments
    val cov = Array.ofDim[Double](dims, dims)
    var i = 0; var u = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val c = s2(u) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; u += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigenSym(cov)
    val order = eigVals.indices.sortBy(idx => (-eigVals(idx), idx)).take(k)
    val comps = order.map { idx =>
      val v = Array.tabulate(dims)(r => eigVecs(r)(idx))
      // sign canonicalization: flip so the largest-|coordinate| is
      // positive — eigenvectors are only defined up to sign
      val mi = v.indices.maxBy(a => (math.abs(v(a)), -a))
      if (v(mi) < 0) v.map(-_) else v
    }.toArray
    (mean, comps, order.map(eigVals).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS). Textbook rotations until the
    * off-diagonal Frobenius mass is < 1e-12; d ≤ a few hundred. */
  private[graft] def jacobiEigenSym(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 100) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - sn * arq
              a(r)(q) = sn * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - sn * aqr
              a(q)(r) = sn * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - sn * vrq
              v(r)(q) = sn * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var x = 0
      while (x < d - 1) {
        var y = x + 1
        while (y < d) { off += a(x)(y) * a(x)(y); y += 1 }
        x += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project a vector column onto [[pcaFit]]'s components:
    * y = W·(x − μ), rounded to 6 dp for run-stable emission. The
    * parameters broadcast with the closure (O(k·d)); projection is a
    * rowwise map — no shuffle, no driver involvement past the fit. */
  def pcaProjectUdf(mean: Array[Double], comps: Array[Array[Double]]) =
    udf((x: scala.collection.Seq[Float]) => {
      val k = comps.length
      val out = new Array[Double](k)
      var j = 0
      while (j < k) {
        val w = comps(j)
        var acc = 0.0
        var i = 0
        while (i < w.length) { acc += w(i) * (x(i) - mean(i)); i += 1 }
        out(j) = math.floor(acc * 1e6 + 0.5) / 1e6
        j += 1
      }
      out
    })

  /** Nearest-centroid assignment (the k-means E-step / IVF cell
    * routing) over broadcast-captured centroids: per row, squared-L2
    * to each centroid accumulated index-ascending, argmin under a
    * STRICT `<` scan (first minimum wins — the `list_indexof(d,
    * list_min(d))` tie rule, so a DuckDB twin spelling the identical
    * arithmetic hash-matches). Returns (cell int, dist2 on the 6-dp
    * grid) as a struct; one rowwise map, centroids ship once per
    * executor. */
  def kmeansAssignUdf(cents: Array[Array[Double]]) =
    udf((x: scala.collection.Seq[Float]) => {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val w = cents(c)
        var acc = 0.0
        var i = 0
        while (i < w.length) {
          val d = x(i) - w(i); acc += d * d; i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      (best, math.floor(bestD * 1e6 + 0.5) / 1e6)
    })

  /** Weight-of-Evidence / Information-Value table — the classic
    * credit-scoring feature screen: for each categorical feature bin,
    * WoE = ln(good-share / bad-share) with 0.5 Laplace smoothing per
    * cell (so empty cells stay finite), plus the feature-level
    * IV = Σ_bins (good-share − bad-share)·WoE that ranks features by
    * predictive power before any model is trained.
    *
    * Input is the MELTED frame (feature, bin, is_bad per observation)
    * so one pass scores ANY number of features: callers explode a
    * per-row array of (feature, bin) structs — ONE scan of the fact
    * table no matter how many features are screened.
    *
    * Determinism: bin counts are exact integers from one hash
    * aggregate (state ∝ bins, never rows); shares and ln are
    * correctly-rounded float ops on those exact ints (the adamic_adar
    * ln-parity precedent), each bin's IV term grid-rounds to 6 dp
    * before the per-feature window fold in exact DECIMAL, and WoE
    * itself rounds to 4 dp on output. Smoothed shares use RAW totals
    * in the denominator (cells get +0.5, G/B do not) — the common
    * convention, pinned by the oracle. A feature with zero goods or
    * zero bads OVERALL has no defined WoE (the margin itself is 0,
    * which cell smoothing does not touch): its bins emit NULL
    * woe/contrib and a NULL feature IV instead of an ANSI division
    * error. */
  def woeIv(labeled: DataFrame, featureCol: String, binCol: String,
      badCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bins = labeled.groupBy(col(featureCol).as("feature"),
        col(binCol).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(badCol).cast("long")).as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad"))
    val w = Window.partitionBy("feature")
    val g = sum(col("n_good")).over(w).cast("double")
    val b = sum(col("n_bad")).over(w).cast("double")
    val gd = (col("n_good").cast("double") + 0.5) / g
    val bd = (col("n_bad").cast("double") + 0.5) / b
    val woeRaw = log(gd / bd)
    // the 0.5 smoothing keeps CELLS finite, but the shares divide by
    // the RAW feature margins — a feature with zero goods (or zero
    // bads) overall has no defined WoE for ANY bin, and under Spark
    // 4's ANSI default the unguarded 0-division would kill the job
    // rather than NULL. Guard the whole per-bin computation; the IV
    // fold then sums NULLs to a NULL feature IV (both engines alike).
    val defined = sum(col("n_good")).over(w) > 0L && sum(col("n_bad")).over(w) > 0L
    val contrib = when(defined,
      Canon.rk((gd - bd) * woeRaw, 6).cast(DecimalType(28, 6)))
    // two projections: the IV fold is a window over a window-derived
    // column (shares need the per-feature totals), which must be
    // staged — Spark rejects directly nested window expressions
    bins.select(col("feature"), col("bin"), col("n"), col("n_bad"),
        col("n_good"), when(defined, Canon.r4(woeRaw)).as("woe"),
        contrib.as("_c"))
      .select(col("feature"), col("bin"), col("n"), col("n_bad"),
        col("n_good"), col("woe"), col("_c").cast("double").as("iv_contrib"),
        Canon.r4(sum(col("_c")).over(w).cast("double")).as("iv"))
  }
}
