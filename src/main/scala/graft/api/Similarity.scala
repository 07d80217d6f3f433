package graft.api

import graft.Canon
import graft.functions.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Similarity {
  private def fanout(df: DataFrame): DataFrame = Fanout(df)

  /** Slack added to the triangle-inequality pruning cut so float error
    * can never prune a qualifying pair. Bound: cosines accumulate in
    * double over ≤ a few thousand float dims (≤ ~1e-12 absolute), and
    * acos amplifies a cosine error ε to at most √(2ε) ≈ 1.5e-6 rad
    * near ±1; the cut combines four such angles, so 1e-5 covers the
    * worst case with an order of magnitude to spare while costing no
    * measurable pruning (an extra 1e-5 rad of cell-pair admission). */
  private val AngleEps = 1e-5

  /** Cosine via the native codegen expression (no UDF boundary);
    * bit-identical to Kernels.cosineArr. */
  private def cos(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** `sim` rounded to `simRound` decimals (Canon's grid) BEFORE any
    * ranking or threshold, so a top-k cut or a `>= minSim` filter
    * cannot straddle a float epsilon across engines/runs. */
  private def rounded(sim: Column, simRound: Option[Int]): Column =
    simRound.map(Canon.rk(sim, _)).getOrElse(sim)

  /** The global top-k of a (id1, id2, sim) pair stream, ties broken by
    * the pair ids — a bounded TakeOrdered, never a full sort. */
  private def topKPairs(pairs: DataFrame, k: Int): DataFrame =
    pairs.orderBy(col("sim").desc, col("id1"), col("id2")).limit(k)

  /** The per-query top-k cut every kNN path ends in: the (qid, cid)
    * candidate stream gets `score` rounded ([[rounded]]) as `scoreCol`,
    * a long `rank` by row_number over (score desc, cid asc) per qid,
    * and keeps rank ≤ k. It must stay exactly
    * Filter(rank <= k, Window[row_number]) so TopKRewrite plans it as
    * the bounded-heap TopKPerGroup. All input columns survive; the
    * caller selects its output. */
  private def topKPerQuery(cands: DataFrame, score: Column, k: Int,
      simRound: Option[Int], scoreCol: String = "sim"): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col(scoreCol).desc, col("cid").asc)
    cands.withColumn(scoreCol, rounded(score, simRound))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Angle (radians) between `v` and centroid `c`, cosine clamped to
    * [−1, 1] so float error cannot make acos NaN. */
  private def angleTo(v: Seq[Float], c: Array[Float]): Double =
    math.acos(math.max(-1.0, math.min(1.0, Kernels.cosineWith(v, c))))

  /** Nearest-centroid cell of a vector under a frozen codebook — the
    * one cell assignment of every IVF and cell-blocked path. Ties go to
    * the lower cell index (`Kernels.nearestCells`). */
  private def cellOf(centroids: Array[Array[Float]]) =
    udf((v: Seq[Float]) => Kernels.nearestCells(v, centroids, 1).head)

  /** A vector's `n` nearest cells, nearest first — the IVF probe set. */
  private def probesOf(centroids: Array[Array[Float]], n: Int) =
    udf((v: Seq[Float]) => Kernels.nearestCells(v, centroids, n))

  /** IVF candidate pairs: each (qid, _qe) query explodes into its
    * `nprobe` nearest cells and equi-joins the (cid, _ce, _cell)
    * corpus on the cell id against the broadcast query side, a query
    * never matching itself. At nprobe = |cells| it is the exact
    * candidate set — brute force without a nested-loop join. */
  private def ivfCandidates(cells: DataFrame, queries: DataFrame,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    val q = queries.withColumn("_probe", explode(probesOf(centroids, nprobe)(col("_qe"))))
    cells.join(broadcast(q), col("_cell") === col("_probe") && col("qid") =!= col("cid"))
  }

  /** Global top-k most-similar pairs, brute force (broadcast × fanout).
    * The exactness baseline and the per-bucket inner loop of an
    * LSH/IVF layout at scale. `simRound` rounds similarities BEFORE
    * ordering so the top-k cutoff cannot straddle a float epsilon
    * across engines/runs. */
  def cosineTopKPairs(df: DataFrame, idCol: String, vecCol: String, k: Int,
      simRound: Option[Int] = None): DataFrame = {
    val a = fanout(df).select(col(idCol).as("id1"), col(vecCol).as("_e1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("_e2"))
    val sim = cos(col("_e1"), col("_e2"))
    topKPairs(a.join(broadcast(b), col("id1") < col("id2"))
      .select(col("id1"), col("id2"), rounded(sim, simRound).as("sim")), k)
  }

  /** EXACT global top-k most-similar pairs through the cell-blocked
    * join, in TWO passes (parity-asserted against the brute force in
    * ApiParitySpec, equi-join shape pinned in PlanShapeSpec):
    *
    *  1. WITNESS pass — the exact top-k among CELL-LOCAL pairs only
    *     (one equi-join on the cell id over the dense diagonal,
    *     TakeOrdered top-k). Its k-th similarity t₀ is achieved by k
    *     real pairs, and cell-local pairs are a subset of all pairs,
    *     so the global k-th best sim ≥ t₀ — every global top-k pair
    *     has sim ≥ t₀.
    *  2. the provably-exact blocked pair join
    *     ([[cosinePairsAboveCellBlocked]]'s core, reusing the same
    *     materialized cell layout) at threshold t₀, then the global
    *     top k of what it emits.
    *
    * Scale shape: pass 1 touches Σ_c n_c² cell-local pairs (where the
    * near-duplicate mass lives; ~1/|cells| of all pairs even on
    * isotropic data); on clustered corpora t₀ lands high and pass 2's
    * cell-pair admission prunes almost everything, so work tracks the
    * k-th similarity's selectivity, not n². Never an unblocked cross
    * join. Falls back to emit-everything only when fewer than k
    * cell-local pairs exist at all (near-trivial corpora). */
  def cosineTopKPairsBlocked(df: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Float]],
      simRound: Option[Int] = None): DataFrame = Checkpoints.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    // one cell layout shared by both passes, materialized now
    val vecs = Checkpoints.pin(assignCells(df, idCol, vecCol, centroids))
    val radii = collectRadii(vecs)
    val a = vecs.select(col("_vid").as("id1"), col("_v").as("_va"), col("_cell"))
    val b = vecs.select(col("_vid").as("id2"), col("_v").as("_vb"), col("_cell"))
    val sim = cos(col("_va"), col("_vb"))
    val localTopK = topKPairs(a.join(b, Seq("_cell")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), rounded(sim, simRound).as("sim")), k).collect()
    val pairs =
      // < k cell-local pairs: emit everything. Sentinel -2.0 (strictly
      // below any cosine), NOT -1.0: with simRound=None the unrounded
      // codegen cosine of antipodal vectors can land an ulp below -1.0
      // and a `sim >= -1.0` output filter would silently drop it
      if (localTopK.length < k)
        cellBlockedPairsCore(vecs, radii, centroids, -2.0, simRound)
      else
        cellBlockedPairsCore(vecs, radii, centroids,
          localTopK.last.getDouble(2), simRound)
    topKPairs(pairs, k)
  }

  /** Late-interaction (ColBERT-style) MaxSim top-k: each stored vector
    * is VIEWED as `m` equal sub-vectors and score(q, c) =
    * Σ_i max_j dot(q_i, c_j) — the multi-vector retrieval scorer where
    * a query matches when each of its facets finds its best
    * counterpart ANYWHERE in the candidate, which single-vector cosine
    * cannot express (one dominant facet drowns the rest). Runs on the
    * native `graft_maxsim` codegen expression (same tier as
    * graft_cosine — no UDF boundary); `simRound` rounds scores BEFORE
    * ranking so the top-k cutoff cannot straddle a float epsilon.
    * Scale shape = [[cosineKnn]]'s: queries broadcast over the
    * fanned-out corpus scan, one rank window per query; at corpus
    * scale the same kernel drops into the IVF-bucketed layouts as the
    * in-cell scorer. */
  def maxSimKnn(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, m: Int, k: Int,
      simRound: Option[Int] = None): DataFrame = {
    val q = df.filter(queryPred).select(col(idCol).as("qid"), col(vecCol).as("_qe"))
    val c = fanout(df).select(col(idCol).as("cid"), col(vecCol).as("_ce"))
    val raw = call_function("graft_maxsim", col("_qe"), col("_ce"), lit(m))
    topKPerQuery(c.join(broadcast(q), col("qid") =!= col("cid")), raw, k,
      simRound, "score").select("qid", "cid", "score", "rank")
  }

  /** Top-k neighbors for each row matching `queryPred`. */
  def cosineKnn(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, simRound: Option[Int] = None): DataFrame = {
    val q = df.filter(queryPred).select(col(idCol).as("qid"), col(vecCol).as("_qe"))
    val c = fanout(df).select(col(idCol).as("cid"), col(vecCol).as("_ce"))
    topKPerQuery(c.join(broadcast(q), col("qid") =!= col("cid")),
      cos(col("_qe"), col("_ce")), k, simRound).select("qid", "cid", "sim", "rank")
  }

  /** PCA-prefiltered kNN: the corpus scanned in `pcaK`-dim PCA space
    * (coarse L2 — PCA is orthonormal, so projected L2 is the best
    * rank-`pcaK` approximation of centered L2), a per-query
    * `shortlist` kept by bounded heap, then EXACT cosine re-rank of
    * the shortlist only. The dimensionality-reduction member of the
    * ANN family: where IVF prunes by partition and PQ by code size,
    * this prunes per-comparison arithmetic + scan width (store the
    * projection column and the coarse pass reads pcaK/d of the
    * vector bytes — 8× here). At 100 TB it composes with IVF (coarse
    * scan inside probed cells); alone it is the flat-scan variant.
    * Approximate by design: a true neighbor whose gap lives in the
    * trailing d−pcaK components can miss the shortlist — recall vs
    * the exact baseline is unit-tested (NoOracleSpec). */
  def pcaKnn(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dims: Int, pcaK: Int = 8,
      shortlist: Int = 50, simRound: Option[Int] = None): DataFrame = {
    val (mu, comps, _) = MlPipeline.pcaFit(df, vecCol, pcaK, dims)
    val proj = MlPipeline.pcaProjectUdf(mu, comps)
    val c = fanout(df).select(col(idCol).as("cid"), col(vecCol).as("_ce"))
      .withColumn("_cp", proj(col("_ce")))
    val q = df.filter(queryPred).select(col(idCol).as("qid"), col(vecCol).as("_qe"))
      .withColumn("_qp", proj(col("_qe")))
    val d2 = expr(
      "aggregate(zip_with(_cp, _qp, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
    val wCoarse = Window.partitionBy("qid").orderBy(col("_d2").asc, col("cid").asc)
    val short = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("_d2", d2)
      .withColumn("_crn", row_number().over(wCoarse))
      .filter(col("_crn") <= shortlist)
    topKPerQuery(short, cos(col("_qe"), col("_ce")), k, simRound)
      .select("qid", "cid", "sim", "rank")
  }

  /** All same-group pairs with cosine ≥ minSim. */
  def cosineThresholdJoin(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, minSim: Double, simRound: Option[Int] = None): DataFrame = {
    val a = fanout(df).select(col(idCol).as("id1"), col(groupCol).as("_g1"), col(vecCol).as("_e1"))
    val b = df.select(col(idCol).as("id2"), col(groupCol).as("_g2"), col(vecCol).as("_e2"))
    val sim = cos(col("_e1"), col("_e2"))
    a.join(broadcast(b), col("_g1") === col("_g2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("_g1").as(groupCol),
        rounded(sim, simRound).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** EXACT all-pairs cosine ≥ minSim through cell-pair pruning — the
    * same pairs as an unblocked all-pairs cosine filter on ANY data:
    *
    *  1. every vector is assigned to its nearest centroid cell (one
    *     map pass over a broadcast codebook) along with its angle to
    *     that centroid;
    *  2. one tiny aggregate yields each cell's angular radius
    *     r_c = max member angle — ≤ |cells| rows, collected (the
    *     codebook is driver-resident already, so this adds no new
    *     scale dependency);
    *  3. a cell pair (a, b) can only contain a qualifying pair if the
    *     MINIMUM possible angle between members,
    *     max(0, θ(centroid_a, centroid_b) − r_a − r_b), still has
    *     cosine ≥ minSim (triangle inequality on the sphere) — the
    *     admission test runs driver-side over the radius table and
    *     the surviving pairs join back as a broadcast equi-join;
    *  4. vectors join through the allowed cell pairs (equi-join on the
    *     cell id, never an unblocked cross join) and the exact cosine
    *     filter keeps the true pairs.
    *
    * On clustered corpora (dedup thresholds like 0.95) almost every
    * cross-cell pair is pruned and the join degenerates to cell-local
    * work — the 100 TB shape, with the cell id doubling as a write-time
    * partition key. On isotropic random data with a loose threshold
    * nothing is prunable by ANY exact method; the plan is then the same
    * all-pairs volume, but still expressed through the blocked join. */
  def cosinePairsAboveCellBlocked(df: DataFrame, idCol: String, vecCol: String,
      minSim: Double, centroids: Array[Array[Float]],
      simRound: Option[Int] = None): DataFrame = {
    val vecs = assignCells(df, idCol, vecCol, centroids)
    cellBlockedPairsCore(vecs, collectRadii(vecs), centroids, minSim, simRound)
  }

  /** (_vid, _v, _cell, _ang): every vector with its nearest-centroid
    * cell and the angle to that centroid — the shared front half of
    * the cell-blocked operators. */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    withCellAngle(fanout(df).select(col(idCol).as("_vid"), col(vecCol).as("_v")),
      "_v", centroids)

  /** `df` plus `_cell` (nearest centroid of `vecCol`) and `_ang` (the
    * vector's angle to that centroid). */
  private def withCellAngle(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    val angToCell = udf((v: Seq[Float], c: Int) => angleTo(v, centroids(c)))
    df.withColumn("_cell", cellOf(centroids)(col(vecCol)))
      .withColumn("_ang", angToCell(col(vecCol), col("_cell")))
  }

  /** Per-cell angular radii of a (_cell, _ang) frame, collected:
    * bounded by the codebook (≤ |cells| rows, and the codebook already
    * lives on the driver), so the cell admission tests run driver-side. */
  private def collectRadii(vecs: DataFrame): Array[(Int, Double)] =
    vecs.groupBy("_cell").agg(max(col("_ang")).as("_rad"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)

  /** The threshold angle of the cell-pruning cut. The output filter
    * compares the ROUNDED sim to minSim, which admits true sims down to
    * minSim − half an ulp of the rounding grid — the pruning bound must
    * use that effective threshold or boundary pairs in tight cells
    * would be silently dropped. */
  private def thetaMax(minSim: Double, simRound: Option[Int]): Double = {
    val effMin = minSim - simRound.map(k => 0.5 * math.pow(10.0, -k)).getOrElse(0.0)
    math.acos(math.max(-1.0, math.min(1.0, effMin)))
  }

  /** The triangle-inequality cell-pair admission test, factored out of
    * [[cellBlockedPairsCore]]: cell pair (a, b) is admitted iff the
    * MINIMUM possible angle between their members,
    * max(0, θ(centroid_a, centroid_b) − r_a − r_b), still fits under
    * the threshold angle. Driver-side over the radius table (≤ |cells|
    * rows). */
  private def allowedCellPairs(radii: Array[(Int, Double)],
      centroids: Array[Array[Float]], minSim: Double,
      simRound: Option[Int]): Seq[(Int, Int)] = {
    val theta = thetaMax(minSim, simRound)
    for {
      (ca, ra) <- radii.toSeq; (cb, rb) <- radii.toSeq
      if ca <= cb
      if math.max(angleTo(centroids(ca).toSeq, centroids(cb)) - ra - rb, 0.0) <=
        theta + AngleEps
    } yield (ca, cb)
  }

  /** Scale-probe hook (ScaleProbeSpec): the admitted cell pairs for a
    * corpus under a given codebook — on a clustered corpus this must
    * track ~|cells| (self pairs + near-neighbor cells), never |cells|²/2,
    * which is the whole reason the cell-blocked join survives scale. */
  private[graft] def admittedCellPairs(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Float]], minSim: Double,
      simRound: Option[Int] = None): Seq[(Int, Int)] = {
    val vecs = assignCells(df, idCol, vecCol, centroids)
    allowedCellPairs(collectRadii(vecs), centroids, minSim, simRound)
  }

  /** The blocked pair join over pre-assigned vectors: driver-side cell
    * admission, broadcast allowed-pair equi-join, exact cosine filter.
    * Taking (vecs, radii) lets a threshold descent reuse one cell
    * layout across rungs instead of re-deriving it per threshold. */
  private def cellBlockedPairsCore(vecs: DataFrame, radii: Array[(Int, Double)],
      centroids: Array[Array[Float]], minSim: Double,
      simRound: Option[Int]): DataFrame = {
    val allowedPairs = allowedCellPairs(radii, centroids, minSim, simRound)
    val spark = vecs.sparkSession
    import spark.implicits._
    val allowed = allowedPairs.toDF("_ca", "_cbAllowed")
    val a = vecs.select(col("_vid").as("_ida"), col("_v").as("_va"), col("_cell").as("_ca"))
    val b = vecs.select(col("_vid").as("_idb"), col("_v").as("_vb"), col("_cell").as("_cb"))
    val sim = cos(col("_va"), col("_vb"))
    a.join(broadcast(allowed), "_ca")
      .join(b, col("_cbAllowed") === col("_cb") && (col("_ca") < col("_cbAllowed")
        || (col("_ca") === col("_cbAllowed") && col("_ida") < col("_idb"))))
      .select(least(col("_ida"), col("_idb")).as("id1"),
        greatest(col("_ida"), col("_idb")).as("id2"),
        rounded(sim, simRound).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Incremental EXACT embedding dedup: cosine ≥ minSim pairs between a
    * new BATCH and an existing CORPUS (never corpus×corpus) — the
    * embedding twin of `Dedup.jaccardPairsAgainstIndex`, completing the
    * incremental family (exact text, MinHash, embeddings).
    *
    * Per-batch-vector cell pruning is tighter than the symmetric
    * variant: corpus cell c can contain a match for batch vector v only
    * if θ(v, centroid_c) − r_c ≤ θmax (triangle inequality on the
    * sphere), so each batch vector probes only the cells that can
    * possibly qualify. Output is provably identical to the brute-force
    * batch×corpus join on ANY data — the codebook affects pruning
    * quality, never correctness.
    *
    * Scale shape: the corpus cell assignment and per-cell radii are
    * computable ONCE and persistable (cell id = write-time partition
    * key); a daily ingest then pays one map pass over the batch, a
    * broadcast of the tiny radius table, and an equi-join on the cell
    * id — probe cost tracks BATCH size, not corpus size. */
  def cosinePairsAgainstIndexCellBlocked(batch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, minSim: Double,
      centroids: Array[Array[Float]], simRound: Option[Int] = None): DataFrame =
    cosineProbePreparedCellIndex(batch,
      cellIndex(corpus, idCol, vecCol, centroids),
      idCol, vecCol, minSim, centroids, simRound)

  /** The persistable index side of [[cosinePairsAgainstIndexCellBlocked]]:
    * every corpus vector with its cell id and centroid angle —
    * (idCol, vecCol, _cell, _ang). Write it once with
    * `Writers.writePartitioned(index, "_cell", path)` (the cell id as
    * the write-time partition key) and probe arriving batches against
    * the loaded table via [[cosineProbePreparedCellIndex]]; the daily
    * ingest then never re-assigns the corpus. */
  def cellIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    withCellAngle(fanout(corpus).select(col(idCol), col(vecCol)), vecCol, centroids)

  /** Probe half: exact batch×corpus cosine ≥ minSim pairs against a
    * prepared (possibly loaded-from-disk) [[cellIndex]] table. Same
    * output as the one-shot variant on ANY data; per-cell radii come
    * from one tiny aggregate over the index. */
  def cosineProbePreparedCellIndex(batch: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, minSim: Double,
      centroids: Array[Array[Float]], simRound: Option[Int] = None): DataFrame = {
    val theta = thetaMax(minSim, simRound)
    val corp = index.select(col(idCol).as("_cid"), col(vecCol).as("_cv"),
      col("_cell"), col("_ang"))
    // per-cell radii are bounded by the (driver-resident) codebook, so
    // they ship inside the probe UDF: each batch vector explodes into
    // exactly the cells that can qualify — an equi-join on the cell id,
    // with no nested-loop batch × radii pass
    val radii = collectRadii(corp)
    val probeCells = udf((v: Seq[Float]) => radii.collect {
      case (c, rad) if angleTo(v, centroids(c)) - rad <= theta + AngleEps => c
    })
    val probes = fanout(batch).select(col(idCol).as("_bid"), col(vecCol).as("_bv"))
      .withColumn("_cell", explode(probeCells(col("_bv"))))
    val sim = cos(col("_bv"), col("_cv"))
    probes.join(corp.drop("_ang"), "_cell")
      .select(col("_bid").as("id1"), col("_cid").as("id2"),
        rounded(sim, simRound).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** IVF-style approximate kNN — the scale path for similarity search.
    *
    * Coarse quantization: every vector is assigned to its nearest of
    * `centroids` cells (one pass, broadcastable centroid table);
    * queries probe their `nprobe` nearest cells and rank only those
    * candidates. At 100 TB the cell assignment is a write-time
    * partition key: a query touches nprobe/|cells| of the data instead
    * of all of it. Recall is tested against the brute-force baseline.
    */
  def ivfKnn(df: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, centroids: Array[Array[Float]], nprobe: Int,
      simRound: Option[Int] = None): DataFrame = {
    val cells = fanout(df)
      .select(col(idCol).as("cid"), col(vecCol).as("_ce"))
      .withColumn("_cell", cellOf(centroids)(col("_ce")))
    val q = df.filter(queryPred).select(col(idCol).as("qid"), col(vecCol).as("_qe"))
    topKPerQuery(ivfCandidates(cells, q, centroids, nprobe),
      cos(col("_qe"), col("_ce")), k, simRound).select("qid", "cid", "sim", "rank")
  }

  /** Default predicted-recall target for [[routedNprobe]]. */
  val RoutedRecallTarget: Double = 0.9

  /** Sample size for [[probeRecallLadder]] — bounded, so the
    * calibration's truth pass is O(nSamples · corpus) kernel work
    * fused into one scan, a rounding error next to the build's own
    * assignment pass. */
  val LadderSamples: Int = 64

  /** Build-time MEASURED signal-strength gate — the router's input:
    * the per-nprobe predicted recall@k ladder, calibrated on a
    * deterministic hash-ordered query sample against exact truth.
    * ladder(p−1) = fraction of sampled true top-k neighbor pairs whose
    * neighbor's cell ranks within the query's p nearest cells — which
    * is EXACTLY IVF recall at nprobe = p (a true neighbor that enters
    * the candidate set always survives the top-k cut, since globally
    * top-k sims stay top-k in any subset). Monotone nondecreasing,
    * ladder(nCells−1) = 1 by construction.
    *
    * Why not a geometric proxy: the intra-cell/inter-centroid angle
    * ratio was measured NON-SEPARATING on this session's regimes
    * (0.71 on tight 64-cluster synthetics vs 0.85 near-isotropic —
    * tools.SignalProbe) whenever the codebook is coarser than the true
    * cluster count, because recall depends on neighbors landing in the
    * SAME cell, not on cells being tight. The ladder measures the
    * deciding quantity directly.
    *
    * Truth is computed by probing ALL cells (an equi-join through the
    * cell id — brute force without a BNLJ) for the bounded sample
    * only; per pair the neighbor-cell rank then comes off the
    * driver-resident codebook. Runs at BUILD time and persists with
    * the index ([[saveIvfIndex]] meta) — queries never pay for it. */
  def probeRecallLadder(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], k: Int = 5,
      nSamples: Int = LadderSamples): Array[Double] =
    probeRecallLadderAssigned(fanout(df)
        .select(col(idCol).as("_vid"), col(vecCol).as("_v"))
        .withColumn("_cell", cellOf(centroids)(col("_v"))),
      centroids, k, nSamples)

  /** [[probeRecallLadder]] over a PRE-ASSIGNED (_vid, _v, _cell) frame —
    * the shared-work form (r22): [[saveIvfIndex]] already computes the
    * corpus cell assignment for the index write, and
    * [[refreshIvfMeta]]'s on-disk cells carry theirs in the layout, so
    * neither needs the calibration to re-run the assignment pass the
    * standalone entry pays. Same qids (hash-ordered bounded sample),
    * same all-cells truth join, same hit fold — the ladder is
    * value-identical to the standalone form. The truth pass is
    * [[ivfKnn]]'s own candidate join and top-k cut at nprobe = |cells|,
    * and its one collect carries each query's vector and each true
    * neighbor's assigned cell — no separate vector-fetch job. */
  private def probeRecallLadderAssigned(assigned: DataFrame,
      centroids: Array[Array[Float]], k: Int = 5,
      nSamples: Int = LadderSamples): Array[Double] = {
    val nCells = centroids.length
    // deterministic uniform sample: smallest md5(id) (the
    // data_sample_hash posture), a bounded TakeOrdered
    val qids = assigned.select(col("_vid").cast("long").as("_qid"))
      .orderBy(md5(col("_qid").cast("string")), col("_qid"))
      .limit(nSamples).collect().map(_.getLong(0))
    // truth: ivfKnn at nprobe = nCells over the pre-assigned frame — no
    // second corpus assignment pass
    val q = assigned.filter(col("_vid").isin(qids: _*))
      .select(col("_vid").as("qid"), col("_v").as("_qe"))
    val cells = assigned.select(col("_vid").as("cid"), col("_v").as("_ce"), col("_cell"))
    val rows = topKPerQuery(ivfCandidates(cells, q, centroids, nCells),
        cos(col("_qe"), col("_ce")), k, None)
      .select(col("qid").cast("long"), col("_qe"), col("_cell"))
      .collect()
    val rankingOf = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      .map { case (q2, v) => q2 -> Kernels.nearestCells(v, centroids, nCells) }
    val hits = new Array[Long](nCells)
    rows.foreach(r => hits(rankingOf(r.getLong(0)).indexOf(r.getInt(2))) += 1L)
    val cum = hits.scanLeft(0L)(_ + _).tail
    if (rows.isEmpty) Array.fill(nCells)(1.0)
    else cum.map(_.toDouble / rows.length)
  }

  /** Probe-width ROUTING off the measured ladder — the
    * isotropic-regime fix: when the calibration says the base nprobe
    * silently caps recall (0.48–0.62 measured on the near-isotropic
    * fixtures), the router widens to the SMALLEST nprobe whose
    * predicted recall meets `target`, paying honest extra probe cost
    * exactly where the geometry demands it and ONLY there —
    * strong-signal corpora keep the cheap base config untouched
    * (their ladder hits the target at or below base). Deterministic,
    * monotone, bounded by the cell count. */
  def routedNprobe(ladder: Array[Double], baseNprobe: Int,
      target: Double = RoutedRecallTarget): Int = {
    require(baseNprobe >= 1 && ladder.nonEmpty,
      s"bad nprobe/ladder: $baseNprobe/${ladder.length}")
    val first = ladder.indexWhere(_ >= target)
    val needed = if (first < 0) ladder.length else first + 1
    math.min(ladder.length, math.max(baseNprobe, needed))
  }

  /** Persist an IVF index to `path`: the codebook as a tiny parquet
    * table (`Artifacts.saveCodebook`) plus the cell-assigned corpus
    * laid out ONE DIRECTORY PER CELL (`Writers.writePartitioned` on
    * the cell id) — the "cell id as a write-time partition key" layout
    * the scaladocs promise, made durable. Between crawl batches an
    * incremental 100 TB pipeline keeps exactly this on disk: the next
    * batch reopens it cold and probes nprobe/|cells| of the files
    * instead of re-embedding, re-assigning, or re-reading anything. */
  def saveIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], path: String): Unit = Checkpoints.scope {
    // A rebuild at `path` is a compaction: it must not inherit the
    // prior index's tombstones, or ivfKnnFromIndex would keep
    // suppressing ids the new corpus legitimately contains (silent row
    // loss). Clear them first, best-effort (absent on a fresh path).
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true); ()
    } catch { case _: java.io.IOException => () }
    graft.sources.Artifacts.saveCodebook(df.sparkSession, centroids,
      s"$path/codebook")
    // the assignment pass is PINNED and shared (r22): the cells write
    // and the ladder calibration both consume it, so the corpus pays
    // the nearest-cell UDF once, not twice (guide §5 reuse) — the
    // ladder values are identical either way (same deterministic
    // assignment under the frozen codebook)
    val assigned = Checkpoints.pin(
      df.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
        .withColumn("_cell", cellOf(centroids)(col("_v"))))
    graft.sources.Writers.writePartitioned(assigned, "_cell", s"$path/cells")
    // index manifest: the measured recall ladder rides with the index
    // so the routed probe ([[ivfKnnFromIndexRouted]]) reads an array
    // instead of re-calibrating against the corpus; like the codebook
    // it is frozen at build time (drift → rebuild, monitored by
    // embeddingDrift)
    val spark = df.sparkSession
    import spark.implicits._
    // coalesce, not repartition: one driver-local row — a
    // repartition(1) added a shuffle per index build (r21)
    Seq(Tuple1(probeRecallLadderAssigned(assigned, centroids)))
      .toDF("ladder").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The build-time index manifest [[saveIvfIndex]] persists: the
    * measured per-nprobe predicted recall ladder (length = cells). */
  def loadIvfMeta(spark: SparkSession, indexPath: String): Array[Double] =
    spark.read.parquet(s"$indexPath/meta").head
      .getSeq[Double](0).toArray

  /** Recalibrate a persisted index's routing ladder from its ON-DISK
    * LIVE content (cells minus tombstones) and rewrite the meta — the
    * maintenance step after enough [[ivfUpsert]]/[[ivfDelete]] batches
    * that the build-time ladder no longer reflects the corpus. Unlike
    * a rebuild this never touches the original corpus frame or the
    * cell layout: one read of the index, the same bounded calibration
    * as the build ([[probeRecallLadder]]), one tiny meta overwrite.
    * On an untouched index the refreshed ladder is BITWISE the
    * build-time one (same ids → same hash-ordered sample → same truth
    * — NoOracleSpec asserts it). Returns the new ladder. */
  def refreshIvfMeta(spark: SparkSession, indexPath: String): Array[Double] = {
    val centroids = graft.sources.Artifacts.loadCodebook(spark,
      s"$indexPath/codebook")
    // the on-disk layout ALREADY carries each row's cell (it is the
    // partition key, assigned under this same frozen codebook at
    // build/upsert time) — calibrate off it directly instead of
    // re-running the assignment UDF over the index (r22); bitwise the
    // same ladder (NoOracleSpec pins refresh ≡ build on an untouched
    // index)
    val ladder = probeRecallLadderAssigned(liveCells(spark, indexPath)
      .select(col("_vid"), col("_v"), col("_cell").cast("int").as("_cell")),
      centroids)
    import spark.implicits._
    Seq(Tuple1(ladder)).toDF("ladder").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/meta")
    ladder
  }

  /** [[ivfKnnFromIndex]] behind the [[routedNprobe]] measured gate,
    * reading the ladder from the PERSISTED index manifest — the
    * production route: the calibration was paid once at build time,
    * every probe self-tunes from the stored array. */
  def ivfKnnFromIndexRouted(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, k: Int, baseNprobe: Int,
      simRound: Option[Int] = None,
      target: Double = RoutedRecallTarget): DataFrame = {
    val ladder = loadIvfMeta(queries.sparkSession, indexPath)
    ivfKnnFromIndex(queries, idCol, vecCol, indexPath, k,
      routedNprobe(ladder, baseNprobe, target), simRound)
  }

  /** Incremental ADD into a [[saveIvfIndex]] layout — the
    * between-crawls maintenance half the persisted/probe-only cost
    * model implies: batch vectors are routed to their nearest cell
    * under the index's FROZEN codebook (reloaded from disk — no
    * retraining, so every existing cell directory stays valid) and
    * APPENDED as new files inside the per-cell directories. Cost ∝
    * batch: one map pass over the batch plus one append write; the
    * existing corpus is never read, moved, or rewritten. Because
    * assignment is per-row under the same codebook, the merged layout
    * has exactly the content an index built on corpus ∪ batch in one
    * shot would have — probe results are BITWISE identical
    * (NoOracleSpec asserts it). PRECONDITION: batch ids must be
    * disjoint from the stored corpus — this is insert-only "upsert"
    * (LSM convention without read-side dedup): re-adding an existing
    * id appends a second stored copy and both become probe
    * candidates. To replace an id, [[ivfDelete]] the old one first
    * and re-add under a NEW id, or rebuild. Codebook drift is the operator's
    * explicit trade: after enough upserts the frozen cells mis-fit the
    * new distribution (IVF recall decays, monitored by
    * [[embeddingDrift]]); the remedy is a rebuild, never an in-place
    * retrain — retraining would orphan every existing cell directory. */
  def ivfUpsert(batch: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = {
    val spark = batch.sparkSession
    val centroids = graft.sources.Artifacts.loadCodebook(spark,
      s"$indexPath/codebook")
    batch.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
      .withColumn("_cell", cellOf(centroids)(col("_v")))
      .write.mode("append").partitionBy("_cell").parquet(s"$indexPath/cells")
  }

  /** Incremental DELETE from a [[saveIvfIndex]] layout: ids land in a
    * tombstone table next to the cells (append-only — the LSM
    * convention) and [[ivfKnnFromIndex]] anti-joins them at read time,
    * so a delete costs one tiny write and zero touched cell files.
    * Tombstones apply to the WHOLE index content at read: deleting an
    * id suppresses every stored copy, including one upserted later —
    * re-admitting a deleted id requires a rebuild (compaction), the
    * standard tombstone semantics. Ids absent from the index tombstone
    * harmlessly. */
  def ivfDelete(ids: DataFrame, idCol: String, indexPath: String): Unit =
    ids.select(col(idCol).as("_vid"))
      .write.mode("append").parquet(s"$indexPath/tombstones")

  /** The index's LIVE content: the cells layout minus tombstoned ids.
    * No .distinct() on the tombstone side: an anti-join ignores
    * build-side duplicates, and the distinct would be an extra
    * tombstone-sized shuffle (WritePathSpec pins the probe plan at
    * exactly one exchange — the rank window). */
  private def liveCells(spark: SparkSession, indexPath: String): DataFrame = {
    val cellsRaw = spark.read.parquet(s"$indexPath/cells")
    val tombPath = new org.apache.hadoop.fs.Path(s"$indexPath/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tombPath))
      cellsRaw.join(
        broadcast(spark.read.parquet(s"$indexPath/tombstones")
          .select(col("_vid").as("_tomb"))),
        cellsRaw("_vid") === col("_tomb"), "left_anti")
    else cellsRaw
  }

  /** Probe a [[saveIvfIndex]] layout COLD: reload the codebook from
    * its parquet table, route each query to its `nprobe` nearest
    * cells, and join against the per-cell directories. Identical
    * output to [[ivfKnn]] over the same corpus/codebook (unit-tested
    * bitwise in NoOracleSpec) — the probe-side cosine is the same
    * codegen kernel and the candidate set is the same cell equi-join;
    * only the index side now comes from disk. The scan is eligible
    * for dynamic partition pruning: the probed cell ids reach the
    * file index, so unprobed cells' directories are never opened.
    * If the index carries [[ivfDelete]] tombstones they are applied
    * here as a BROADCAST anti-join (the tombstone table is bounded by
    * deletes, never by corpus) — no exchange lands on the cells scan,
    * and an index without tombstones planes exactly as before. */
  def ivfKnnFromIndex(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, k: Int, nprobe: Int,
      simRound: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val centroids = graft.sources.Artifacts.loadCodebook(spark,
      s"$indexPath/codebook")
    val cells = liveCells(spark, indexPath)
      .select(col("_vid").as("cid"), col("_v").as("_ce"), col("_cell"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("_qe"))
    topKPerQuery(ivfCandidates(cells, q, centroids, nprobe),
      cos(col("_qe"), col("_ce")), k, simRound).select("qid", "cid", "sim", "rank")
  }

  /** Random-hyperplane LSH approximate kNN — the DATA-INDEPENDENT
    * scale path for cosine similarity search, complementing `ivfKnn`:
    * no codebook to train (and so no drift as the corpus grows), at
    * the cost of weaker pruning on clustered data than a trained
    * quantizer. `tables` independent hash tables of `bits` hyperplane
    * sign bits each; a data vector and a query collide if they share
    * any table's bucket (recall per neighbor at angle θ is
    * 1-(1-(1-θ/π)^bits)^tables). Planes are seeded Gaussians, so
    * signatures — and results — are reproducible, and since planes are
    * data-independent there is no query-leakage question at all.
    *
    * Scale shape mirrors `ivfKnn`: signatures are one narrow map pass;
    * candidates come from the (table, bucket) equi-join against the
    * broadcast query side (query sets are bounded); multi-table
    * collisions dedup via the first-agreeing-table test (native
    * `graft_first_eq`, no distinct shuffle); the final per-query top-k
    * is the row_number≤k idiom the TopKPerGroup rewrite turns into a
    * bounded heap. At 100 TB the (table, bucket) pair is a write-time
    * partition key exactly like the IVF cell. `bits` sizes buckets
    * (aim ~n/2^bits candidates per table); the 6/16 defaults suit the
    * fixture's ~unit-norm 64-d corpus. */
  def rpLshKnn(df: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, dims: Int, tables: Int = 16, bits: Int = 6, seed: Long = 42L,
      simRound: Option[Int] = None): DataFrame = {
    require(dims > 0, s"dims must be > 0, got $dims")
    require(tables > 0 && bits > 0 && bits <= 63,
      s"need tables > 0 and bits in [1, 63], got tables=$tables bits=$bits")
    val rnd = new java.util.Random(seed)
    val planes: Array[Array[Array[Float]]] =
      Array.fill(tables, bits)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val sigUdf = udf((v: Seq[Float]) => {
      val arr = v.toArray
      // fail loudly: a vector shorter/longer than the declared dims
      // would otherwise yield a partial dot product and a plausible-
      // but-wrong signature (silently broken recall)
      require(arr.length == dims,
        s"rpLshKnn: vector of length ${arr.length} does not match declared dims=$dims")
      planes.map { tp =>
        var h = 0L
        var i = 0
        while (i < tp.length) {
          val p = tp(i)
          var dp = 0.0
          var j = 0
          while (j < dims) { dp += arr(j) * p(j); j += 1 }
          h = (h << 1) | (if (dp >= 0) 1L else 0L)
          i += 1
        }
        h
      }.toSeq
    })
    val data = fanout(df).select(col(idCol).as("cid"), col(vecCol).as("_ce"))
      .withColumn("_sig", sigUdf(col("_ce")))
      .select(col("cid"), col("_ce"), col("_sig"),
        posexplode(col("_sig")).as(Seq("_t", "_h")))
    val q = df.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("_qe"))
      .withColumn("_qsig", sigUdf(col("_qe")))
      .select(col("qid"), col("_qe"), col("_qsig"),
        posexplode(col("_qsig")).as(Seq("_qt", "_qh")))
    val firstTable = call_function("graft_first_eq", col("_sig"), col("_qsig"))
    val cands = data.join(broadcast(q), col("_t") === col("_qt") && col("_h") === col("_qh")
        && col("qid") =!= col("cid"))
      .filter(firstTable === col("_t") + 1)
    topKPerQuery(cands, cos(col("_qe"), col("_ce")), k, simRound)
      .select("qid", "cid", "sim", "rank")
  }

  /** Deterministic sampled k-means codebook — the trained coarse
    * quantizer behind `ivfKnn` and `cosinePairsAboveCellBlocked`.
    *
    * Sampling is hash-ordered, not RNG: the `sampleSize` rows with the
    * smallest md5(id) digests form the sample, identical at any
    * partitioning or scale — at 100 TB the same line samples the same
    * rows. The physical shape is a DIGEST-THRESHOLD FILTER, not a bare
    * TakeOrdered: a plain `orderBy(md5).limit(s)` funnels every
    * partition's s-row partial heap into ONE final task (partitions ×
    * s rows at cluster scale), so instead the scan admits only rows
    * whose 32-bit digest prefix falls under a threshold sized from the
    * row count (expected ~2·s admitted; the digest prefix is a strict
    * lower segment of the full-digest order, so the bottom-s of the
    * admitted set IS the global bottom-s), and the TakeOrdered runs on
    * that bounded set. If the binomial draw under-admits (astronomical
    * at s ≥ 1024: ≥ 30σ), the threshold doubles and retries — the
    * bounded top-up loop, ≤ log₂ rounds, deterministic result either
    * way. Lloyd
    * iterations then run locally on the bounded sample: assignment by
    * cosine (ties to the lower index, matching `Kernels.nearestCells`),
    * update = member mean, empty cells keep their previous centroid.
    * Init = first k sample vectors in hash order. Everything is
    * deterministic, so the codebook — and every query built on it — is
    * reproducible run to run.
    *
    * An untrained codebook (e.g. "first k vectors by id") wrecks IVF
    * recall and cell-pruning rates on clustered corpora; a few Lloyd
    * rounds over a hash sample is the standard fix and is enough — the
    * quantizer only has to be good, not optimal, because `ivfKnn`
    * recall is tuned by nprobe and cell-blocked exactness never depends
    * on the codebook at all. */
  def trainCodebook(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 8, sampleSize: Int = 2048): Array[Array[Float]] = {
    require(k > 0 && iters >= 0 && sampleSize >= k,
      s"need sampleSize >= k > 0, got k=$k sampleSize=$sampleSize")
    val sample = digestSample(df, idCol, vecCol, sampleSize)
    // fail here, by name, rather than let an empty codebook surface as
    // an opaque NoSuchElementException inside Kernels.nearestCells
    require(sample.nonEmpty,
      s"trainCodebook: input '$vecCol' has no rows to sample — cannot train a codebook")
    // an input smaller than k yields that many cells (every vector its
    // own centroid) instead of indexing past the sample
    val kk = math.min(k, sample.length)
    var cents = sample.take(kk).map(_.clone())
    val dims = cents.headOption.map(_.length).getOrElse(0)
    for (_ <- 1 to iters) {
      val sums = Array.fill(kk)(new Array[Double](dims))
      val counts = new Array[Long](kk)
      sample.foreach { v =>
        val c = Kernels.nearestCells(scala.collection.immutable.ArraySeq.unsafeWrapArray(v),
          cents, 1).head
        counts(c) += 1
        var i = 0; while (i < dims) { sums(c)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dims)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** Product-quantization codebooks — `m` sub-codebooks of `ks`
    * L2-trained sub-centroids each, over the same deterministic digest
    * sample as [[trainCodebook]]. Returned layout: [m][ks][dims/m].
    *
    * PQ is the memory-resident ANN path at 100 TB: 64 float dims
    * (256 B) compress to m=8 byte codes + one stored norm, a 26×
    * cut, so the ADC scan touches ~4 % of the bytes a raw-vector scan
    * would and spends m lookup-adds per candidate instead of d
    * multiply-adds. Assignment and training are L2 (not cosine):
    * subvector magnitudes carry dot-product mass, so minimizing
    * ‖x_j − c‖² is what bounds the ADC error |q·x − q·x̂| ≤
    * ‖q‖·√Σ_j‖x_j − x̂_j‖². Lloyd details mirror [[trainCodebook]]:
    * init = first ks sample subvectors in hash order, ties to the
    * lower index, empty cells keep their previous centroid — fully
    * deterministic, so codes and every result built on them are
    * reproducible run to run.
    *
    * `residualTo`: when set (the composed [[pqKnn]] path), each sample
    * vector is first reduced to its IVF RESIDUAL x − c(nearest cell)
    * and the sub-codebooks are trained on residuals — the standard
    * IVF-PQ composition, and the difference between codes that resolve
    * WITHIN a cell and codes that collapse to the cell id on clustered
    * corpora (measured r18 on a tight 64-cluster 100k corpus:
    * raw-vector codes read 0.10 recall@5 where plain IVF reads 1.00;
    * residual codes recover the IVF bound). Omit for standalone PQ
    * over unrouted vectors. */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int = 8, sampleSize: Int = 2048,
      residualTo: Option[Array[Array[Float]]] = None): Array[Array[Array[Float]]] = {
    require(m > 0 && ks > 0, s"need m > 0 and ks > 0, got m=$m ks=$ks")
    val raw = digestSample(df, idCol, vecCol, sampleSize)
    val sample = residualTo match {
      case None => raw
      case Some(cents) if raw.nonEmpty => raw.map { v =>
        val wrapped = scala.collection.immutable.ArraySeq.unsafeWrapArray(v)
        Kernels.residual(wrapped, cents(Kernels.nearestCells(wrapped, cents, 1).head))
      }
      case _ => raw
    }
    require(sample.nonEmpty,
      s"trainPqCodebooks: input '$vecCol' has no rows to sample")
    val dims = sample.head.length
    require(dims % m == 0,
      s"trainPqCodebooks: dims=$dims not divisible by m=$m")
    val dsub = dims / m
    Array.tabulate(m) { j =>
      val sub = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      lloydL2(sub, math.min(ks, sub.length), iters)
    }
  }

  /** Local L2 k-means on a bounded driver-side sample (the PQ
    * sub-codebook trainer). Deterministic: hash-order init, L2 ties to
    * the lower index, empty cells keep their previous centroid. */
  private def lloydL2(sample: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val dims = sample.head.length
    var cents = sample.take(k).map(_.clone())
    def nearest(v: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d2 = 0.0; var i = 0
        while (i < dims) { val d = v(i).toDouble - cents(c)(i); d2 += d * d; i += 1 }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearest(v)
        counts(c) += 1
        var i = 0; while (i < dims) { sums(c)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dims)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** IVF+PQ approximate kNN with exact re-ranking — the composed
    * FAISS-style layout a 100 TB vector store actually runs:
    *
    *  1. coarse IVF routing exactly as [[ivfKnn]] (queries probe their
    *     `nprobe` nearest cells; the cell id is the write-time
    *     partition key, so unprobed cells are never read);
    *  2. within probed cells, candidates are scanned by ADC over
    *     RESIDUAL PQ codes (codes quantize x − c(cell); books must be
    *     trained with residualTo = Some(centroids)): the corpus side
    *     of the join carries ONLY (id, cell, m byte-codes, stored true
    *     norm) — never the raw vectors — and each candidate costs m
    *     lookup-adds against the query's precomputed LUT plus the
    *     per-(query, cell) scalar q·c. Approximate cosine =
    *     (q·c + adc) / (‖q‖·‖x‖) with the TRUE stored norm
    *     (PQ-with-stored-norms), so only the numerator is approximated;
    *  3. the per-query top-`rerank` ADC shortlist (bounded-heap
    *     row_number idiom) joins BACK to the raw vectors by id — a
    *     selective equi-join fetching rerank·|queries| rows — and the
    *     exact codegen cosine re-ranks to the final top-k.
    *
    * Recall: IVF routing bounds it above by [[ivfKnn]]'s recall at the
    * same nprobe; the re-rank stage recovers ADC ordering error, so
    * with rerank ≫ k the composed recall tracks the IVF bound
    * (unit-tested against brute force). Output ordering rounds the
    * exact re-ranked cosine like every other knn key, and ADC
    * shortlist ties break on cid, so results are deterministic even
    * though ADC scores themselves are never emitted. */
  def pqKnn(df: DataFrame, idCol: String, vecCol: String, queryPred: Column,
      k: Int, centroids: Array[Array[Float]], nprobe: Int,
      books: Array[Array[Array[Float]]], rerank: Int,
      simRound: Option[Int] = None): DataFrame = {
    require(k >= 1 && rerank >= k,
      s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    val ks = books(0).length
    // RESIDUAL encoding (the standard IVF-PQ composition): codes
    // quantize x − c(cell), not x — raw-vector codes collapse to the
    // cell id on clustered corpora (all members share the centroid
    // that dominates x), reading 0.10 recall@5 where plain IVF reads
    // 1.00 on a tight 64-cluster 100k corpus (r18). `books` must be
    // trained with trainPqCodebooks(residualTo = Some(centroids)).
    val encodeOf = udf((v: Seq[Float], cell: Int) =>
      Kernels.pqEncode(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(Kernels.residual(v, centroids(cell))), books))
    val lutOf = udf((v: Seq[Float]) => Kernels.pqLut(v, books))
    // q·c(probe): the per-(query, probed-cell) additive term of the
    // residual decomposition q·x̂ = q·c + q·r̂ — one scalar per probe
    // row, so the m·ks LUT still computes once per query
    val qcOf = udf((v: Seq[Float], cell: Int) => Kernels.dotCent(v, centroids(cell)))
    val adcOf = udf((codes: Seq[Int], lut: Seq[Double]) =>
      Kernels.adcDot(codes, lut, ks))
    // corpus side of the ADC scan: codes + true norm, NO raw vectors
    val codes = fanout(df)
      .select(col(idCol).as("cid"), col(vecCol).as("_ce"))
      .withColumn("_cell", cellOf(centroids)(col("_ce")))
      .select(col("cid"), col("_cell"),
        encodeOf(col("_ce"), col("_cell")).as("_codes"),
        Kernels.l2norm(col("_ce")).as("_cn"))
    // _lut/_qn are derived BEFORE the probe explode so the m·ks-entry
    // LUT is computed (and broadcast) once per query, not once per
    // (query, probe) pair — nprobe× less UDF work and payload.
    val q = df.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("_qe"))
      .withColumn("_lut", lutOf(col("_qe")))
      .withColumn("_qn", Kernels.l2norm(col("_qe")))
      .withColumn("_probe", explode(probesOf(centroids, nprobe)(col("_qe"))))
      .withColumn("_qc", qcOf(col("_qe"), col("_probe")))
    val wAdc = Window.partitionBy("qid").orderBy(col("_adc").desc, col("cid").asc)
    // zero-norm guard: NaN sorts ABOVE all doubles descending, so an
    // unguarded 0/0 would float degenerate vectors to the top of every
    // shortlist; score them -1 (below any true cosine) instead.
    val normProd = col("_qn") * col("_cn")
    val shortlist = codes
      .join(broadcast(q), col("_cell") === col("_probe") && col("qid") =!= col("cid"))
      .withColumn("_adc",
        when(normProd > 0,
          (col("_qc") + adcOf(col("_codes"), col("_lut"))) / normProd)
          .otherwise(lit(-1.0)))
      .withColumn("_rr", row_number().over(wAdc))
      .filter(col("_rr") <= rerank)
      .select(col("qid"), col("_qe"), col("cid"))
    // exact re-rank: fetch the shortlist's raw vectors by id (selective
    // equi-join, rerank·|queries| rows) and order by the codegen cosine
    val cand = df.select(col(idCol).as("cid"), col(vecCol).as("_ce"))
    topKPerQuery(cand.join(broadcast(shortlist), "cid"), cos(col("_qe"), col("_ce")),
      k, simRound).select("qid", "cid", "sim", "rank")
  }

  /** The `sampleSize` vectors with the smallest (md5(id), id) keys —
    * [[trainCodebook]]'s sampling pass, factored out so the
    * threshold-path/TakeOrdered equivalence is directly testable.
    * Ordering by the digest prefix refines ordering by the full
    * digest, so the admitted set `prefix32 < t` is a strict lower
    * segment of the global digest order: whenever it holds ≥
    * sampleSize rows (or the whole input), its bottom-sampleSize IS
    * the global bottom-sampleSize.
    *
    * Null ids are excluded up front: md5(null) is null, so the
    * threshold path's `prefix32 < t` would silently drop them while
    * the frac>=1.0 fallback would sort them FIRST (asc nulls-first) —
    * the two paths would sample different codebooks on nullable-id
    * inputs. One explicit filter makes them provably equivalent on
    * every input (r10 ADVICE). */
  private[graft] def digestSample(df: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Float]] = {
    val proj = df
      .select(col(idCol).cast("string").as("_id"), col(vecCol).as("_v"))
      .filter(col("_id").isNotNull)
      .withColumn("_d", md5(col("_id").cast("binary")))
    // one narrow count to size the admission threshold (the scan reads
    // only the id column; everything else is pruned)
    val total = proj.select("_id").count()
    if (total == 0) return Array.empty
    val want = math.min(sampleSize.toLong, total).toInt
    val prefix32 = conv(substring(col("_d"), 1, 8), 16, 10).cast("long")
    var frac = math.min(1.0, 2.0 * sampleSize / total.toDouble)
    var sample: Array[Array[Float]] = null
    while (sample == null) {
      // floor the threshold at 1: below ~1.8e13 rows frac·2^32 >= 1
      // anyway, and above it a truncated-to-0 threshold would admit
      // nothing and burn full-scan retry rounds; threshold 1 already
      // admits ~total/2^32 >= 2·sampleSize rows at that scale
      val admitted =
        if (frac >= 1.0) proj
        else proj.filter(prefix32 <
          lit(math.max(1L, (frac * 4294967296.0).toLong)))
      val rows = admitted.orderBy(col("_d"), col("_id"))
        .limit(sampleSize).select("_v").collect()
        .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
      if (rows.length >= want || frac >= 1.0) sample = rows
      else frac = math.min(1.0, frac * 2.0)
    }
    sample
  }

  /** Per-vector int8 quantization — the 4× storage cut an embedding
    * warehouse takes before ANN at 100 TB (recall loss from 8-bit
    * cells is negligible next to the IVF/LSH approximation): each
    * vector maps affinely onto [0, 255] by its own min/max, so the
    * codes plus (mn, mx) reconstruct to within (mx−mn)/510 per
    * element. Entirely built-in higher-order functions — the whole
    * projection stays inside whole-stage codegen, no UDF boundary.
    * The rounding is the explicit floor(x + 0.5) grid (same recipe as
    * Canon.rk) so any engine spelling the same double arithmetic
    * produces identical codes; a flat (mx == mn) vector quantizes to
    * all-zero codes rather than dividing by zero. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mn = array_min(col(vecCol)).cast("double")
    val mx = array_max(col(vecCol)).cast("double")
    df.select(col(idCol), mn.as("mn"), mx.as("mx"),
      when(mx === mn, transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol), v =>
          floor((v.cast("double") - mn) * 255.0 / (mx - mn) + 0.5).cast("int")))
        .as("q"))
  }

  /** Embedding-distribution drift monitor: per label, the cosine
    * between the REFERENCE and CANDIDATE split's centroid vectors,
    * plus both centroid norms — the check an embedding pipeline runs
    * when the encoder (or the upstream corpus) changes: centroids that
    * rotate (cos < 1) or shrink/grow (norm shift) flag a distribution
    * move long before downstream metrics do. `splitPred` rows are the
    * reference; the rest are the candidate batch.
    *
    * Determinism, unlike [[centroids]]' avg(double): each component
    * grid-rounds to 6 dp with the Canon floor trick IN FLOAT SPACE
    * and only then casts to DECIMAL(18,6) for the associative sum. A
    * direct float→decimal cast is NOT portable — engines disagree at
    * representation boundaries (one rounds the exact binary
    * expansion, another the shortest decimal rendering; measured: one
    * component in the sf0.001 fixture flipped a 6 dp ulp and moved a
    * cosine by 3e-5). The floor-rounded double sits within 1e-22 of
    * its grid point, so the decimal cast agrees everywhere. Means are
    * one float division each; the 64 per-dim products grid-round to
    * 6 dp before the exact decimal dot/norm folds (the adamic_adar
    * posture), so no cross-dim float sum exists anywhere.
    *
    * Scale shape: ONE posexplode pass (rows × dims, map-side combined
    * to labels × 2 × dims state), a conditional-max pivot per (label,
    * dim), and a labels-sized rollup — the corpus is scanned once and
    * never shuffled wider than the dim table. */
  def embeddingDrift(df: DataFrame, labelCol: String, vecCol: String,
      splitPred: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(18, 6)
    val dims = df.select(col(labelCol).as("label"),
        when(splitPred, "ref").otherwise("cand").as("_h"),
        posexplode(col(vecCol)).as(Seq("_dim", "_v")))
    val sums = dims.groupBy("label", "_h", "_dim")
      .agg(sum(Canon.rk(col("_v").cast("double"), 6).cast(d6)).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("label"), col("_h"), col("_dim"),
        (col("_s").cast("double") / col("_n").cast("double")).as("_m"),
        col("_n"))
    val piv = sums.groupBy("label", "_dim").agg(
      max(when(col("_h") === "ref", col("_m"))).as("_a"),
      max(when(col("_h") === "cand", col("_m"))).as("_b"),
      max(when(col("_h") === "ref", col("_n"))).as("_na"),
      max(when(col("_h") === "cand", col("_n"))).as("_nb"))
    def t6(c: Column) = Canon.rk(c, 6).cast(DecimalType(28, 6))
    val agg = piv.groupBy("label").agg(
      max(col("_na")).as("n_ref"), max(col("_nb")).as("n_cand"),
      sum(t6(col("_a") * col("_b"))).cast("double").as("_ab"),
      sum(t6(col("_a") * col("_a"))).cast("double").as("_aa"),
      sum(t6(col("_b") * col("_b"))).cast("double").as("_bb"))
    agg.select(col("label"), col("n_ref"), col("n_cand"),
      when(col("_aa") > 0.0 && col("_bb") > 0.0,
        Canon.rk(col("_ab") / (sqrt(col("_aa")) * sqrt(col("_bb"))), 6))
        .as("centroid_cos"),
      Canon.rk(sqrt(col("_aa")), 6).as("norm_ref"),
      Canon.rk(sqrt(col("_bb")), 6).as("norm_cand"))
  }

  /** Mean vector per label as (label, dim, value) rows. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(avg(col("_v").cast("double")).as("centroid"))
}
