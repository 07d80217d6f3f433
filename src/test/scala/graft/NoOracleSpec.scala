package graft

import graft.functions.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** The 4 declared-without-oracle keys (SURVEY §5.3#3). */
class NoOracleSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("agg_approx_distinct within 5% of exact per group") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n <= 0.05, s"$k: approx=${approx(k)} exact=$n")
    }
  }

  test("agg_distinct_sketch_rollup: union-of-dailies equals one direct sketch, within 5% of exact") {
    import org.apache.spark.sql.functions._
    val rolled = SparkEntry.queries("agg_distinct_sketch_rollup")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the lossless-merge property the key exists for: HLL registers
    // are order-insensitive maxima, so the union of per-day sketches
    // must estimate EXACTLY what one sketch over all rows estimates —
    // if these ever differ, partial pre-aggregation is not safe
    val direct = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val (_, est) = rolled(k)
      assert(est == direct(k),
        s"$k: union-of-dailies $est != direct sketch ${direct(k)} — merge is lossy")
      assert(math.abs(est - n).toDouble / n <= 0.05, s"$k: est=$est exact=$n")
    }
  }

  test("agg_percentile_approx lands within the sketch's rank-error bound of exact") {
    import org.apache.spark.sql.functions._
    // the GK guarantee is on RANK (±ε·n, ε = 1/accuracy), not value —
    // a value-relative check would be vacuous on dense regions and
    // flaky on heavy tails, so assert the real contract: the returned
    // value's empirical rank interval must cover p·(n−1) within the
    // error budget (+1 for the floor-vs-interpolate convention)
    val approx = SparkEntry.queries("agg_percentile_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val values = Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(approx.keySet == values.keySet)
    val ps = Seq(0.5, 0.9, 0.99)
    approx.foreach { case (g, qs) =>
      val vs = values(g)
      val n = vs.length
      val err = math.max(1.0, math.ceil(1e-4 * n))
      ps.zip(qs).foreach { case (p, q) =>
        val lo = vs.count(_ < q)   // rank interval of q within the group
        val hi = vs.count(_ <= q)
        val target = p * (n - 1)
        assert(target >= lo - err - 1 && target <= hi + err,
          s"$g p$p: approx $q has rank [$lo,$hi] of $n, target $target, err $err")
      }
    }
  }

  test("dedup_minhash_lsh recall meets the banding formula 1-(1-j^rows)^bands") {
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // truth pairs WITH their exact jaccard, so the expected recall is
    // the mean of the per-pair collision probability at the defaults
    // (bands=16, rows=8) — the property the kernel doc derives, not a
    // hand-waved 0.9
    val truth = SparkEntry.queries("dedup_near_jaccard")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(truth.nonEmpty, "fixture should contain near-duplicates")
    val (bands, rows) = (16, 8)
    def pCollide(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, rows), bands)
    val expected = truth.map { case (_, j) => pCollide(j) }.sum / truth.size
    // 3-sigma slack for the Poisson-binomial sample noise
    val sigma = math.sqrt(truth.map { case (_, j) =>
      val p = pCollide(j); p * (1 - p)
    }.sum) / truth.size
    val recall = truth.count { case (pair, _) => lsh.contains(pair) }.toDouble / truth.size
    assert(recall >= expected - 3 * sigma - 1e-9,
      s"recall=$recall expected>=${expected - 3 * sigma} over ${truth.size} true pairs")
  }

  test("dedup_incremental_minhash recall vs the exact incremental truth set") {
    // same banding-formula bound as dedup_minhash_lsh, but for the
    // asymmetric batch-vs-corpus probe against the EXACT incremental
    // pairs (dedup_incremental). The LSH variant is unblocked, so it
    // may emit extra cross-lang pairs; recall only counts truth.
    val lsh = SparkEntry.queries("dedup_incremental_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = SparkEntry.queries("dedup_incremental")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(truth.nonEmpty, "fixture should contain cross-batch near-duplicates")
    val (bands, rows) = (16, 8)
    def pCollide(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, rows), bands)
    val expected = truth.map { case (_, j) => pCollide(j) }.sum / truth.size
    val sigma = math.sqrt(truth.map { case (_, j) =>
      val p = pCollide(j); p * (1 - p)
    }.sum) / truth.size
    val recall = truth.count { case (pair, _) => lsh.contains(pair) }.toDouble / truth.size
    assert(recall >= expected - 3 * sigma - 1e-9,
      s"recall=$recall expected>=${expected - 3 * sigma} over ${truth.size} true pairs")
  }

  test("ml_train_logreg_gd matches a sequential reference and loss decreases") {
    // Reference: same 10-step full-batch GD, computed sequentially on
    // the driver (the numpy twin lives in tools/check_gd.py).
    val rows = Tables.embeddings(spark, sf)
      .select("embedding", "label").collect()
      .map(r => (r.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray,
        (r.getInt(1) % 2).toDouble))
    val n = rows.length
    val dims = 64
    val w = new Array[Double](dims)
    def loss(): Double = rows.map { case (x, y) =>
      val p = Kernels.sigmoid(x.indices.map(i => w(i) * x(i)).sum)
      val eps = 1e-12
      -(y * math.log(p + eps) + (1 - y) * math.log(1 - p + eps))
    }.sum / n
    val losses = scala.collection.mutable.ArrayBuffer(loss())
    for (_ <- 1 to 10) {
      val grad = new Array[Double](dims)
      rows.foreach { case (x, y) =>
        val err = Kernels.sigmoid(x.indices.map(i => w(i) * x(i)).sum) - y
        var i = 0; while (i < dims) { grad(i) += err * x(i); i += 1 }
      }
      var i = 0; while (i < dims) { w(i) -= 0.1 * grad(i) / n; i += 1 }
      losses += loss()
    }
    losses.toSeq.sliding(2).foreach { w2 =>
      assert(w2(1) <= w2(0) + 1e-12, s"loss rose: ${w2(0)} -> ${w2(1)}")
    }

    val dist = SparkEntry.queries("ml_train_logreg_gd")(spark, sf)
      .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    assert(dist.size == dims)
    (0 until dims).foreach { i =>
      assert(math.abs(dist(i) - w(i)) < 2e-6, s"dim $i: dist=${dist(i)} ref=${w(i)}")
    }
  }

  test("ml_infer_mlp_gemm equals the oracle-gated sequential ml_infer_mlp key exactly") {
    // the batched dual-dgemm forward pass vs the sequential UDF path,
    // compared AT THE DECLARED OUTPUT (4 dp-rounded p_max): BLAS
    // reassociation may move raw sums by ulps, but after the shared
    // rounding the two keys must emit identical rows — this parity is
    // the no-oracle key's hard gate (r13 ADVICE: the DuckDB hash gate
    // stays on the bit-matched sequential path only).
    val seqRows = SparkEntry.queries("ml_infer_mlp")(spark, sf).collect()
    val gemmRows = SparkEntry.queries("ml_infer_mlp_gemm")(spark, sf).collect()
    assert(seqRows.nonEmpty)
    assert(seqRows.map(_.toString).toSeq == gemmRows.map(_.toString).toSeq)
  }

  test("ml_train_mlp_gd matches a sequential backprop reference and loss decreases") {
    // Reference: identical 5-step full-batch backprop computed
    // sequentially on the driver — same forward (relu hidden,
    // max-subtracted softmax), same per-layer gradients, same update.
    // treeAggregate may reassociate the gradient sums by ulps, so the
    // comparison is at 1e-5, and the declared key rounds to 6 dp.
    import ml.MlOps.{mlpGdW1Init, mlpGdB1Init, mlpGdW2Init, mlpGdB2Init}
    val dims = 64; val hDim = 8; val k = 4
    val rows = Tables.embeddings(spark, sf)
      .select("embedding", "label").collect()
      .map(r => (r.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray,
        r.getInt(1) % 4))
    val n = rows.length
    val w1 = mlpGdW1Init.map(_.clone()); val b1 = mlpGdB1Init.clone()
    val w2 = mlpGdW2Init.map(_.clone()); val b2 = mlpGdB2Init.clone()
    def forward(x: Array[Double]): (Array[Double], Array[Double], Array[Double]) = {
      val hPre = Array.tabulate(hDim)(j =>
        b1(j) + (0 until dims).map(i => w1(j)(i) * x(i)).sum)
      val h = hPre.map(math.max(0.0, _))
      val logits = Array.tabulate(k)(c =>
        b2(c) + (0 until hDim).map(j => w2(c)(j) * h(j)).sum)
      val lmax = logits.max
      val z = logits.map(l => math.exp(l - lmax)).sum
      (hPre, h, logits.map(l => math.exp(l - lmax) / z))
    }
    def loss(): Double = rows.map { case (x, y) =>
      -math.log(forward(x)._3(y) + 1e-12)
    }.sum / n
    val losses = scala.collection.mutable.ArrayBuffer(loss())
    for (_ <- 1 to 5) {
      val gW1 = Array.fill(hDim)(new Array[Double](dims)); val gB1 = new Array[Double](hDim)
      val gW2 = Array.fill(k)(new Array[Double](hDim)); val gB2 = new Array[Double](k)
      rows.foreach { case (x, y) =>
        val (hPre, h, p) = forward(x)
        val d2 = Array.tabulate(k)(c => p(c) - (if (c == y) 1.0 else 0.0))
        for (c <- 0 until k) {
          for (j <- 0 until hDim) gW2(c)(j) += d2(c) * h(j)
          gB2(c) += d2(c)
        }
        for (j <- 0 until hDim if hPre(j) > 0) {
          val dh = (0 until k).map(c => w2(c)(j) * d2(c)).sum
          for (i <- 0 until dims) gW1(j)(i) += dh * x(i)
          gB1(j) += dh
        }
      }
      for (j <- 0 until hDim) {
        for (i <- 0 until dims) w1(j)(i) -= 0.5 * gW1(j)(i) / n
        b1(j) -= 0.5 * gB1(j) / n
      }
      for (c <- 0 until k) {
        for (j <- 0 until hDim) w2(c)(j) -= 0.5 * gW2(c)(j) / n
        b2(c) -= 0.5 * gB2(c) / n
      }
      losses += loss()
    }
    losses.toSeq.sliding(2).foreach { pr =>
      assert(pr(1) <= pr(0) + 1e-12, s"loss rose: ${pr(0)} -> ${pr(1)}")
    }
    val dist = SparkEntry.queries("ml_train_mlp_gd")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(dist.size == hDim * dims + hDim + k * hDim + k)
    def check(part: String, r: Int, c: Int, ref: Double): Unit =
      assert(math.abs(dist((part, r.toLong, c.toLong)) - ref) < 1e-5,
        s"$part($r,$c): dist=${dist((part, r.toLong, c.toLong))} ref=$ref")
    for (j <- 0 until hDim; i <- 0 until dims) check("w1", j, i, w1(j)(i))
    for (j <- 0 until hDim) check("b1", j, 0, b1(j))
    for (c <- 0 until k; j <- 0 until hDim) check("w2", c, j, w2(c)(j))
    for (c <- 0 until k) check("b2", c, 0, b2(c))
  }

  test("stream_watermark_late returns full hourly coverage in batch mode") {
    val df = SparkEntry.queries("stream_watermark_late")(spark, sf)
    assert(df.count() > 0)
  }

  test("sim_knn_ivf recall vs brute-force top-5 is usable, and the trained codebook beats untrained") {
    import org.apache.spark.sql.functions.col
    val exact = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("sim_knn_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // nprobe=4 of 16 cells searches ~25% of the corpus
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // The trained quantizer must beat every HONEST untrained codebook
    // (16 data vectors chosen away from the queries). NOT compared:
    // the r3 codebook "vec_id < 16" — it contained the 10 query
    // vectors themselves, so each query's top probe was its own
    // centroid's cell where its neighbors concentrate; that
    // query-leakage inflated recall to 0.94 while honest untrained
    // choices measure 0.38–0.56 on this fixture (trained: 0.62).
    val e = Tables.embeddings(spark, sf)
    val untrained = Seq(100L, 250L, 400L).map { start =>
      val cents = e.filter(col("vec_id") >= start && col("vec_id") < start + 16)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
      val got = graft.api.Similarity.ivfKnn(e, "vec_id", "embedding",
          queryPred = col("vec_id") < 10, k = 5,
          centroids = cents, nprobe = 4, simRound = Some(4))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    assert(untrained.forall(recall >= _),
      s"trained codebook recall $recall not above untrained recalls $untrained")
    info(f"trained recall $recall%.3f vs untrained ${untrained.map(u => f"$u%.3f")}")
  }

  test("sim_knn_ivf_routed: measured gate lifts isotropic recall >= 0.8, keeps base on clustered, parity at equal nprobe") {
    import org.apache.spark.sql.functions.col
    // (1) the isotropic floor — the regime the router exists for: the
    // fixture reads 0.48-0.62 at base nprobe 4; the routed probe must
    // clear 0.8 (measured 0.90-0.94 across the three sf fixtures)
    val exact = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = SparkEntry.queries("sim_knn_ivf_routed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(routed.contains).toDouble / exact.size
    assert(recall >= 0.8, s"routed isotropic recall too low: $recall")
    // (2) ladder properties + routing decisions: the fixture's ladder
    // must route WIDER than base (it cannot hit 0.9 at nprobe 4), a
    // clustered corpus' ladder must hit the target at/below base so
    // the router leaves the cheap config untouched
    val e = Tables.embeddings(spark, sf)
    val cents = graft.api.Similarity.trainCodebook(e, "vec_id", "embedding", k = 16)
    val ladder = graft.api.Similarity.probeRecallLadder(e, "vec_id", "embedding", cents)
    assert(ladder.zip(ladder.tail).forall { case (a, b) => b >= a },
      s"ladder not monotone: ${ladder.toSeq}")
    assert(math.abs(ladder.last - 1.0) < 1e-12,
      s"ladder must end at 1.0 (all cells probed = exact): ${ladder.last}")
    val npIso = graft.api.Similarity.routedNprobe(ladder, baseNprobe = 4)
    assert(npIso > 4, s"isotropic fixture should route wider than base, got $npIso")
    val s2 = spark
    import s2.implicits._
    val clustered = spark.createDataset(
        graft.tools.ClusteredGen.corpus(0.15).toIndexedSeq.map {
          case (i, v, _) => (i, v.toSeq) }).toDF("vec_id", "embedding")
      .repartition(32)
    val cCents = graft.api.Similarity.trainCodebook(clustered, "vec_id", "embedding", k = 16)
    val cLadder = graft.api.Similarity.probeRecallLadder(clustered, "vec_id", "embedding", cCents)
    assert(graft.api.Similarity.routedNprobe(cLadder, baseNprobe = 4) == 4,
      s"clustered corpus must keep base nprobe (ladder head ${cLadder.take(4).toSeq})")
    // (3) routing changes ONLY the probe width: the routed result is
    // bitwise the plain from-index probe at the routed nprobe
    val base = graft.sources.Writers.roundTripDir("graft_ivfrt_parity", sf)
    graft.api.Similarity.saveIvfIndex(e, "vec_id", "embedding", cents, base)
    val q = e.filter(col("vec_id") < 10)
    val a = graft.api.Similarity.ivfKnnFromIndexRouted(q, "vec_id", "embedding",
      base, k = 5, baseNprobe = 4, simRound = Some(4)).orderBy("qid", "rank").collect().toSeq
    val metaLadder = graft.api.Similarity.loadIvfMeta(spark, base)
    val np = graft.api.Similarity.routedNprobe(metaLadder, 4)
    val b = graft.api.Similarity.ivfKnnFromIndex(q, "vec_id", "embedding",
      base, k = 5, nprobe = np, simRound = Some(4)).orderBy("qid", "rank").collect().toSeq
    assert(a == b, "routed probe diverges from the plain probe at the routed nprobe")
    info(f"routed recall $recall%.3f, fixture nprobe 4 -> $npIso")
  }

  test("refreshIvfMeta: untouched index reproduces the build-time ladder bitwise; post-delete refresh stays valid") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val cents = graft.api.Similarity.trainCodebook(e, "vec_id", "embedding", k = 16)
    val base = graft.sources.Writers.roundTripDir("graft_ivfrefresh", sf)
    graft.api.Similarity.saveIvfIndex(e, "vec_id", "embedding", cents, base)
    val built = graft.api.Similarity.loadIvfMeta(spark, base).toSeq
    // same ids → same hash-ordered sample → same truth: the refresh
    // must reproduce the build-time calibration exactly from disk
    val refreshed = graft.api.Similarity.refreshIvfMeta(spark, base).toSeq
    assert(refreshed == built,
      s"on-disk recalibration diverged from the build: $refreshed vs $built")
    // after deletes, the refresh recalibrates on the LIVE content and
    // the result is still a valid ladder (monotone, ends exact)
    graft.api.Similarity.ivfDelete(e.filter(col("vec_id") % 2 === 1), "vec_id", base)
    val after = graft.api.Similarity.refreshIvfMeta(spark, base)
    assert(after.length == built.length)
    assert(after.zip(after.tail).forall { case (a, b) => b >= a },
      s"post-delete ladder not monotone: ${after.toSeq}")
    assert(math.abs(after.last - 1.0) < 1e-12, s"ladder must end at 1.0: ${after.last}")
  }

  test("probeRecallLadder(p-1) is the recall of ivfKnn(nprobe = p) against ivfKnn(nprobe = all cells)") {
    // the ladder runs its own truth join; pin it to the probe path it
    // predicts, on the ladder's own md5-ordered query sample
    import org.apache.spark.sql.functions.{col, md5}
    val sim = graft.api.Similarity
    val e = Tables.embeddings(spark, sf)
    val cents = sim.trainCodebook(e, "vec_id", "embedding", k = 16)
    val ladder = sim.probeRecallLadder(e, "vec_id", "embedding", cents)
    val qids = e.select(col("vec_id").cast("long").as("q"))
      .orderBy(md5(col("q").cast("string")), col("q"))
      .limit(sim.LadderSamples).collect().map(_.getLong(0))
    def probe(nprobe: Int): Set[(Long, Long)] =
      sim.ivfKnn(e, "vec_id", "embedding", col("vec_id").isin(qids: _*), k = 5,
          centroids = cents, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = probe(cents.length)
    assert(truth.size == sim.LadderSamples * 5)
    val recalls = (1 to cents.length).map(p => probe(p).count(truth.contains).toDouble / truth.size)
    assert(recalls == ladder.toSeq, s"ladder ${ladder.toSeq} vs probed recall $recalls")
  }

  test("sim_knn_pca: 16-dim shortlist-100 recall vs brute-force top-5, and re-ranked sims are exact") {
    val exact = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pca = SparkEntry.queries("sim_knn_pca")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val recall = exact.keySet.count(pca.keySet.contains).toDouble / exact.size
    // a 16-of-64-dim coarse space keeping 100 of ~1000 candidates on a
    // near-isotropic fixture (flat spectrum — the hard case for PCA
    // pruning; measured 0.88, vs 0.44 at pcaK=8/shortlist=50): a true
    // neighbor only misses when its similarity gap lives in the
    // trailing 48 components
    assert(recall >= 0.6, s"PCA-prefilter recall too low: $recall")
    // the re-rank is EXACT cosine: every pair both paths emit must
    // carry the identical rounded similarity
    val common = exact.keySet & pca.keySet
    assert(common.nonEmpty)
    common.foreach { p =>
      assert(exact(p) == pca(p), s"pair $p: exact ${exact(p)} vs pca ${pca(p)}")
    }
    info(f"PCA-prefilter recall $recall%.3f over ${exact.size} truth pairs")
  }

  test("sim_knn_ivfpq recall tracks the IVF bound (re-rank recovers ADC error)") {
    val exact = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("sim_knn_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("sim_knn_ivfpq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallIvf = exact.count(ivf.contains).toDouble / exact.size
    val recallPq = exact.count(pq.contains).toDouble / exact.size
    // IVF routing bounds PQ recall above (same cells, same nprobe);
    // the exact re-rank of the top-50 ADC shortlist must keep the
    // composed recall close to that bound — a big gap means ADC
    // ordering is dropping true neighbors out of the shortlist
    assert(recallPq >= 0.5, s"IVFPQ recall too low: $recallPq")
    assert(recallPq >= recallIvf - 0.1,
      s"IVFPQ recall $recallPq fell more than 0.1 below the IVF bound $recallIvf")
    info(f"recall: ivf $recallIvf%.3f ivfpq $recallPq%.3f")
  }

  test("sim_knn_ivfpq_hq: production config reaches recall@5 >= 0.9 on the clustered100k_loose corpus") {
    // The r18 VERDICT's #1 honesty item closed as a DECLARED key: the
    // fixture-sized sim_knn_ivfpq params (coarse 16, ks 16, rerank 50)
    // measure 0.36 recall@5 on the loose clustered 100k synthetic —
    // a user copying that config onto a real corpus gets the wrong
    // default. The hq key ships the pq_ladders-proven budget
    // (coarse 128, ks 256 = 8-bit codes, nprobe 8, rerank 200,
    // measured 0.94 there), and this test pins the floor ON THE SAME
    // CORPUS (ClusteredGen.corpus(0.15) — the exact generator the
    // RECALL artifacts ran) through the identical
    // trainCodebook/trainPqCodebooks(residualTo)/pqKnn path the
    // declared key calls. Truth = the exact cosineKnn top-5 (the
    // sim_knn_per_query shape) on the same frame.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val vecs = graft.tools.ClusteredGen.corpus(0.15)
    val df = spark.createDataset(vecs.toIndexedSeq.map {
      case (i, v, _) => (i, v.toSeq) }).toDF("vec_id", "embedding")
      .repartition(32)
    val truth = graft.api.Similarity.cosineKnn(df, "vec_id", "embedding",
        queryPred = col("vec_id") < 10, k = 5, simRound = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val coarse = graft.api.Similarity.trainCodebook(df, "vec_id", "embedding", k = 128)
    val books = graft.api.Similarity.trainPqCodebooks(df, "vec_id", "embedding",
      m = 8, ks = 256, residualTo = Some(coarse))
    val got = graft.api.Similarity.pqKnn(df, "vec_id", "embedding",
        queryPred = col("vec_id") < 10, k = 5,
        centroids = coarse, nprobe = 8, books = books, rerank = 200,
        simRound = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    info(f"hq config recall@5 on clustered100k_loose: $recall%.4f (${truth.size} truth pairs)")
    assert(recall >= 0.9,
      f"hq IVF-PQ config recall@5 $recall%.3f below the 0.9 floor on the loose clustered corpus")
  }

  test("sim_knn_ivf_upsert: build+upsert+delete probe is bitwise identical to a one-shot build") {
    // the incremental-maintenance contract executed end to end: an
    // index built on corpus0, ivfUpsert-ed with the remaining batch,
    // and ivfDelete-tombstoned must probe BITWISE identically to an
    // index built in ONE shot on (corpus0 ∪ batch) ∖ deletes under the
    // same frozen codebook — cell routing is per-row under the same
    // centroids, appends only add files, and tombstones only subtract
    // rows, so the candidate sets (and every sim/rank after them) are
    // equal by construction. Any drift here means the merged layout is
    // NOT the index it claims to be.
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val isNew = substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1) >= "d"
    val corpus0 = e.filter(!isNew)
    val cents = graft.api.Similarity.trainCodebook(corpus0, "vec_id", "embedding", k = 16)
    val delPred = col("vec_id") % 97 === 13
    val incBase = java.nio.file.Files.createTempDirectory("graft-ivfup-inc").toString
    graft.api.Similarity.saveIvfIndex(corpus0, "vec_id", "embedding", cents, incBase)
    graft.api.Similarity.ivfUpsert(e.filter(isNew), "vec_id", "embedding", incBase)
    graft.api.Similarity.ivfDelete(e.filter(delPred), "vec_id", incBase)
    val oneBase = java.nio.file.Files.createTempDirectory("graft-ivfup-one").toString
    graft.api.Similarity.saveIvfIndex(e.filter(!delPred), "vec_id", "embedding",
      cents, oneBase)
    def probe(base: String) =
      graft.api.Similarity.ivfKnnFromIndex(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", base, k = 5, nprobe = 4, simRound = Some(4))
        .collect().map(_.toString).sorted.toSeq
    val inc = probe(incBase)
    val one = probe(oneBase)
    assert(inc.nonEmpty, "merged-index probe returned no rows")
    assert(inc == one,
      "build+upsert+delete probe diverged from the one-shot build — the merged layout is not the claimed index")
    // the tombstones really removed something: a probe of the merged
    // index must never emit a deleted id, and the deleted set overlaps
    // the fixture (otherwise the delete path went untested)
    val delIds = e.filter(delPred).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "fixture has no ids ≡ 13 mod 97 — delete path untested")
    val emitted = SparkEntry.queries("sim_knn_ivf_upsert")(spark, sf)
      .collect().map(r => r.getLong(1)).toSet
    assert((emitted & delIds).isEmpty,
      s"probe emitted tombstoned ids: ${(emitted & delIds).take(3)}")
  }

  test("sim_knn_ivf_persisted is bitwise identical to the in-memory IVF probe") {
    // the persisted key's whole claim: writing the index to disk and
    // probing it cold changes NOTHING — same codebook, same cell
    // assignment (now read from the directory layout), same codegen
    // cosine, same ranks. Compare full rows, not just the id sets, so
    // a similarity or rank drift through the parquet hop would fail.
    val inMem = SparkEntry.queries("sim_knn_ivf")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val persisted = SparkEntry.queries("sim_knn_ivf_persisted")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(persisted.nonEmpty, "persisted IVF probe returned no rows")
    assert(persisted == inMem,
      "cold probe of the persisted index diverged from the in-memory IVF result")
  }

  test("dedup_minhash_persisted is bitwise identical to the in-memory incremental probe") {
    // same claim as the IVF persisted key, for the probabilistic
    // index: writing the signature tables bucketed and probing them
    // cold changes NOTHING vs the in-memory index path.
    val inMem = SparkEntry.queries("dedup_incremental_minhash")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val persisted = SparkEntry.queries("dedup_minhash_persisted")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(persisted.nonEmpty, "persisted minhash probe returned no rows")
    assert(persisted == inMem,
      "cold probe of the persisted signature index diverged from the in-memory path")
  }

  test("sim_knn_ivf_probe_only matches the persisted twin, and repeat calls reuse the index") {
    // same output contract as the persisted key (bitwise), PLUS the
    // amortization claim: a second call must not rebuild the on-disk
    // index (the memo returns the same base path, so the probe is the
    // only Spark work — that's what the bench's min-of-3 measures).
    val persisted = SparkEntry.queries("sim_knn_ivf_persisted")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val first = SparkEntry.queries("sim_knn_ivf_probe_only")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val second = SparkEntry.queries("sim_knn_ivf_probe_only")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first == persisted,
      "probe-only IVF diverged from the persisted twin")
    assert(second == first, "repeat probe-only call diverged")
  }

  test("dedup_minhash_probe_only matches the persisted twin across repeat calls") {
    val persisted = SparkEntry.queries("dedup_minhash_persisted")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val first = SparkEntry.queries("dedup_minhash_probe_only")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val second = SparkEntry.queries("dedup_minhash_probe_only")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first == persisted,
      "probe-only minhash diverged from the persisted twin")
    assert(second == first, "repeat probe-only call diverged")
  }

  test("sim_knn_rplsh recall vs brute-force top-5 is usable and deterministic") {
    val exact = SparkEntry.queries("sim_knn_per_query")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("sim_knn_rplsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    // 16 tables × 6 bits on a ~unit-norm random 64-d corpus: the
    // 1-(1-(1-θ/π)^6)^16 curve predicts ~0.6-0.8 for true-neighbor
    // angles here; planes are seeded so this number is exactly
    // reproducible, not flaky
    assert(recall >= 0.4, s"rpLSH recall too low: $recall")
    // every returned neighbor must carry the true cosine (the filter
    // is approximate, the scoring is exact): spot-check one query's
    // ranks are 1..k with descending sims
    val rows = SparkEntry.queries("sim_knn_rplsh")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("qid") === 0L)
      .orderBy("rn").collect()
    assert(rows.map(_.getLong(3)).sameElements(1L to rows.length.toLong),
      "ranks must be dense 1..k")
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b },
      "sims must be non-increasing in rank")
    info(f"rpLSH recall $recall%.3f over ${exact.size} truth pairs")
  }

  test("embed_pca_project: orthonormal components, eigen residuals vs a local covariance, projection parity") {
    val e = Tables.embeddings(spark, sf)
    val (mu, comps, eigs) = graft.api.MlPipeline.pcaFit(e, "embedding", k = 8, dims = 64)
    // components orthonormal: W Wᵀ = I_k
    for (a <- comps.indices; b <- comps.indices) {
      val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"W$a . W$b = $dot, want $want")
    }
    // eigenvalues desc and nonnegative (covariance is PSD)
    assert(eigs.zip(eigs.tail).forall { case (x, y) => x >= y },
      s"eigenvalues not descending: ${eigs.toSeq}")
    assert(eigs.forall(_ >= -1e-10), s"negative eigenvalue: ${eigs.toSeq}")
    // independent ground truth: covariance recomputed LOCALLY from the
    // collected fixture (1k vectors), then residual ‖Σw − λw‖ ≈ 0 and
    // trace(Σ) = Σ all-eigenvalues for each returned pair
    val X = e.select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toArray)
    val n = X.length; val d = 64
    val lmu = Array.tabulate(d)(i => X.map(_(i)).sum / n)
    assert(lmu.zip(mu).forall { case (a, b) => math.abs(a - b) < 1e-9 },
      "distributed mean diverged from local mean")
    val cov = Array.tabulate(d, d) { (i, j) =>
      X.map(x => (x(i) - lmu(i)) * (x(j) - lmu(j))).sum / n
    }
    comps.zip(eigs).foreach { case (w, lam) =>
      val res = (0 until d).map { i =>
        val sw = (0 until d).map(j => cov(i)(j) * w(j)).sum
        math.pow(sw - lam * w(i), 2)
      }.sum
      assert(math.sqrt(res) < 1e-8, s"eigen residual ${math.sqrt(res)} for λ=$lam")
    }
    // projection parity on the declared key's first rows
    val got = SparkEntry.queries("embed_pca_project")(spark, sf)
      .limit(5).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",").toSeq.map(_.toDouble)).toMap
    val byId = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    got.foreach { case (id, proj) =>
      val x = byId(id)
      comps.indices.foreach { j =>
        val want = (0 until d).map(i => comps(j)(i) * (x(i) - mu(i))).sum
        assert(math.abs(proj(j) - math.floor(want * 1e6 + 0.5) / 1e6) < 1e-9,
          s"vec $id comp $j: ${proj(j)} vs $want")
      }
    }
    // the 8 kept components must actually concentrate variance: their
    // eigenvalue mass beats 8 average directions' share
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(eigs.sum > trace * 8.0 / d,
      s"top-8 variance ${eigs.sum} does not beat the uniform share of trace $trace")
  }

  test("multimodal decode matches a driver-side recompute (now also oracle-checked)") {
    // oracle-checked since r9, but the mapPartitions-vs-driver parity
    // still pins the per-partition decoder-reuse plumbing itself
    val decoded = SparkEntry.queries("multimodal_decode_stub")(spark, sf)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getDouble).toVector).toMap
    val decoder = new graft.operators.MultimodalOps.TextMediaDecoder
    val expected = Tables.documents(spark, sf).select("doc_id", "text").collect().map { r =>
      r.getLong(0) -> decoder.decode(r.getString(1).getBytes("UTF-8")).toVector
    }.toMap
    assert(decoded == expected)
  }
}
