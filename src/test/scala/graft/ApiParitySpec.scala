package graft

import graft.api.{Ranking, SkewJoins}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct equivalence of the scale-shaped API operators against the
  * Spark built-ins they replace — same values, different plan. */
class ApiParitySpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("Ranking.bandedRanks equals the global-window built-ins") {
    val banded = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), floor(col("o_totalprice") / 10000).cast("long").as("band"))
    val w1 = Window.orderBy(col("band").desc)
    val w2 = Window.orderBy(col("band").desc, col("o_orderkey").asc)
    val builtIn = banded
      .withColumn("rnk", rank().over(w1).cast("long"))
      .withColumn("drnk", dense_rank().over(w1).cast("long"))
      .withColumn("prnk", percent_rank().over(w1))
      .withColumn("cdist", cume_dist().over(w1))
      .withColumn("tile", ntile(4).over(w2).cast("long"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    val ours = Ranking.bandedRanks(banded, "band", "o_orderkey", 4)
      .select("o_orderkey", "rnk", "drnk", "prnk", "cdist", "tile")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(ours.keySet == builtIn.keySet)
    ours.foreach { case (k, v) => assert(v == builtIn(k), s"orderkey $k") }
  }

  test("SkewJoins.saltedJoin equals the plain equi-join") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "c_mktsegment")
      .collect().map(_.toString).sorted.toSeq
    val salted = SkewJoins.saltedJoin(orders, cust, "o_custkey", "o_orderkey", 8)
      .select("o_orderkey", "c_mktsegment")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("derivedSaltFactor spreads a 30%-hot key, stays at 1 on uniform keys, result unchanged") {
    val s = spark
    import s.implicits._
    // 10k rows, key 0 holds 30%: the hot key is ~9.6× the average
    // 32-partition task share, so the derived factor must be > 1 and
    // ≤ the cap; a uniform probe over 1000 keys must derive 1
    val skewed = s.range(10000).select(col("id").as("uid"),
      when(col("id") % 10 < 3, 0L).otherwise(col("id") % 500).as("k"))
    val uniform = s.range(10000).select(col("id").as("uid"),
      (col("id") % 1000).as("k"))
    val kSkew = SkewJoins.derivedSaltFactor(skewed, "k")
    val kUni = SkewJoins.derivedSaltFactor(uniform, "k")
    assert(kSkew > 1 && kSkew <= 64, s"skewed corpus derived $kSkew")
    assert(kUni == 1, s"uniform corpus derived $kUni")
    // the auto join must salt (plan shows the replication explode) and
    // still return exactly the plain equi-join's rows
    val build = (0L until 500L).map(k => (k, s"v$k")).toDF("k", "payload")
    val auto = SkewJoins.saltedJoinAuto(skewed, build, "k", "uid")
    val plain = skewed.join(build, Seq("k"))
    assert(auto.queryExecution.executedPlan.toString.contains("explode"),
      "auto join on a skewed probe should plan the salt replication")
    val a = auto.select("k", "uid", "payload").collect().map(_.toString).sorted
    val p = plain.select("k", "uid", "payload").collect().map(_.toString).sorted
    assert(a.sameElements(p), s"salted rows ${a.length} != plain rows ${p.length}")
  }

  test("linearScoreBatchGemm equals the per-row UDF path at 4 dp, incl. ragged batches") {
    // batch = 7 forces partial final batches in every partition, the
    // case a stride bug in the column-major packing would corrupt;
    // 4 dp is the declared keys' rounding, where BLAS reassociation
    // ulps must vanish
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val udfPath = graft.api.MlPipeline.linearScore(e, "embedding", ml.MlOps.weights)
      .select(col("vec_id"), Canon.r4(col("score")).as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gemmPath = graft.api.MlPipeline.linearScoreBatchGemm(
        e, "vec_id", "embedding", ml.MlOps.weights, batch = 7)
      .select(col("vec_id"), Canon.r4(col("score")).as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gemmPath.keySet == udfPath.keySet)
    gemmPath.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(udfPath(id)),
        s"vec_id $id: gemm $s != udf ${udfPath(id)}")
    }
  }

  test("multiclassScoreBatchGemm equals the per-row UDF path at 4 dp, both fanout settings") {
    // same stride-bug posture as the linear test (batch = 7 forces
    // ragged final batches) extended to the (m × k) dgemm: a wrong ldc
    // or a row/class transposition would corrupt pred or p_max. Both
    // fanout settings must agree — the declared key runs fanout=false
    // (scan-parallel), the API default is the gated repartition.
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val udfPath = graft.api.MlPipeline.multiclassScore(
        e, "vec_id", "embedding", ml.MlOps.weightsK)
      .select(col("vec_id"), col("pred"), Canon.r4(col("p_max")).as("p_max"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    Seq(true, false).foreach { fan =>
      val gemmPath = graft.api.MlPipeline.multiclassScoreBatchGemm(
          e, "vec_id", "embedding", ml.MlOps.weightsK, batch = 7, fanout = fan)
        .select(col("vec_id"), col("pred"), Canon.r4(col("p_max")).as("p_max"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(gemmPath.keySet == udfPath.keySet)
      gemmPath.foreach { case (id, (pred, pm)) =>
        val (uPred, uPm) = udfPath(id)
        assert(pred == uPred && java.lang.Double.doubleToLongBits(pm) ==
          java.lang.Double.doubleToLongBits(uPm),
          s"vec_id $id (fanout=$fan): gemm ($pred, $pm) != udf ($uPred, $uPm)")
      }
    }
  }

  test("mlpScoreBatchGemm equals the per-row UDF path at 4 dp, both fanout settings") {
    // the 2-layer extension of the multiclass stride test: batch = 7
    // forces ragged final batches through BOTH dgemm calls, and the
    // relu-transpose between them is where a wrong stride would
    // scramble hidden units across rows. The UDF path is the
    // sequential reference (same op order as the DuckDB oracle).
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    import ml.MlOps.{mlpW1, mlpB1, mlpW2, mlpB2}
    val udfPath = graft.api.MlPipeline.mlpScore(
        e, "vec_id", "embedding", mlpW1, mlpB1, mlpW2, mlpB2)
      .select(col("vec_id"), col("pred"), Canon.r4(col("p_max")).as("p_max"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // sanity: the net must actually discriminate (not all rows one class)
    assert(udfPath.values.map(_._1).toSet.size > 1,
      "MLP predicted a single class for every row — degenerate net")
    Seq(true, false).foreach { fan =>
      val gemmPath = graft.api.MlPipeline.mlpScoreBatchGemm(
          e, "vec_id", "embedding", mlpW1, mlpB1, mlpW2, mlpB2,
          batch = 7, fanout = fan)
        .select(col("vec_id"), col("pred"), Canon.r4(col("p_max")).as("p_max"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(gemmPath.keySet == udfPath.keySet)
      gemmPath.foreach { case (id, (pred, pm)) =>
        val (uPred, uPm) = udfPath(id)
        assert(pred == uPred && java.lang.Double.doubleToLongBits(pm) ==
          java.lang.Double.doubleToLongBits(uPm),
          s"vec_id $id (fanout=$fan): gemm ($pred, $pm) != udf ($uPred, $uPm)")
      }
    }
  }

  test("trainMlpGD gradient matches central finite differences at 1e-5 (per layer)") {
    // the backprop math verified INDEPENDENTLY of the forward twin
    // (r13 judge #4): one distributed GD step at lr=1 recovers the mean
    // gradient (g = w_before - w_after), which must match the central
    // finite difference of a spec-local mean-CE loss at sampled weights
    // from EVERY parameter block (W1, b1, W2, b2).
    val s = spark
    import s.implicits._
    val dims = 6; val hid = 4; val k = 3; val nRows = 24
    // seeded batch; floats EXACTLY as the operator will read them
    val xs = Array.tabulate(nRows)(i =>
      Array.tabulate(dims)(j => math.sin(1.0 + i * dims + j).toFloat))
    val ys = Array.tabulate(nRows)(i => i % k)
    val df = xs.zip(ys).toIndexedSeq.toDF("embedding", "y")
    val w1i = Array.tabulate(hid)(h => Array.tabulate(dims)(j =>
      0.3 * math.sin(10.0 + h * dims + j)))
    val b1i = Array.tabulate(hid)(h => 0.1 * math.sin(50.0 + h))
    val w2i = Array.tabulate(k)(c => Array.tabulate(hid)(h =>
      0.3 * math.sin(100.0 + c * hid + h)))
    val b2i = Array.tabulate(k)(c => 0.1 * math.sin(200.0 + c))
    // mean cross-entropy loss of the relu MLP at given params — the
    // scalar the analytic gradient differentiates
    def loss(w1: Array[Array[Double]], b1: Array[Double],
        w2: Array[Array[Double]], b2: Array[Double]): Double = {
      var tot = 0.0
      for (i <- 0 until nRows) {
        val x = xs(i).map(_.toDouble)
        val h = Array.tabulate(hid)(j =>
          math.max(0.0, b1(j) + (0 until dims).map(d => w1(j)(d) * x(d)).sum))
        val logits = Array.tabulate(k)(c =>
          b2(c) + (0 until hid).map(j => w2(c)(j) * h(j)).sum)
        val lmax = logits.max
        val z = logits.map(l => math.exp(l - lmax)).sum
        tot += math.log(z) - (logits(ys(i)) - lmax)
      }
      tot / nRows
    }
    def clone2(m: Array[Array[Double]]) = m.map(_.clone())
    // one step, lr = 1: g_mean = before - after
    val (w1a, b1a, w2a, b2a) = graft.api.MlPipeline.trainMlpGD(
      df, "embedding", "y", steps = 1, lr = 1.0, dims = dims,
      clone2(w1i), b1i.clone(), clone2(w2i), b2i.clone())
    val eps = 1e-6
    def check(name: String, analytic: Double, perturb: Double => Double): Unit = {
      val numeric = (perturb(eps) - perturb(-eps)) / (2 * eps)
      assert(math.abs(analytic - numeric) < 1e-5,
        f"$name: analytic $analytic%.8f vs finite-diff $numeric%.8f")
    }
    for ((j, d) <- Seq((0, 0), (1, 3), (3, 5)))
      check(s"W1($j)($d)", w1i(j)(d) - w1a(j)(d), e => {
        val m = clone2(w1i); m(j)(d) += e; loss(m, b1i, w2i, b2i) })
    for (j <- Seq(0, 2))
      check(s"b1($j)", b1i(j) - b1a(j), e => {
        val v = b1i.clone(); v(j) += e; loss(w1i, v, w2i, b2i) })
    for ((c, j) <- Seq((0, 0), (2, 3)))
      check(s"W2($c)($j)", w2i(c)(j) - w2a(c)(j), e => {
        val m = clone2(w2i); m(c)(j) += e; loss(w1i, b1i, m, b2i) })
    for (c <- Seq(0, 1, 2))
      check(s"b2($c)", b2i(c) - b2a(c), e => {
        val v = b2i.clone(); v(c) += e; loss(w1i, b1i, w2i, v) })
  }

  test("PPJoin pair sets equal brute force on a random synthetic corpus") {
    val s = spark
    import s.implicits._
    // 300 docs over a tiny vocab (dups and near-dups arise naturally),
    // plus adversarial rows: empty text, single token, exact clones.
    // The prefix-filter + length-filter + verify pipeline must emit
    // EXACTLY the brute-force pair set at every threshold tested —
    // this is the correctness of the ⌈t·|X|⌉ prefix bound and its
    // 1e-9 float slack, not reachable through the fixture oracle alone.
    val rnd = new scala.util.Random(99)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g", "hhh")
    val docs = (0L until 300L).map { i =>
      val text =
        if (i % 97 == 0) ""
        else if (i % 89 == 0) "a"
        else if (i % 7 == 0) "a bb ccc dd e" // clone cluster
        else List.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, text)
    }
    val df = docs.toDF("doc_id", "text")
    // token set matches the engine/oracle convention: split on single
    // spaces KEEPS empty strings, so "" tokenizes to {""} (one token)
    // — the same thing Spark's split and DuckDB's string_split produce
    def jac(x: String, y: String): Double = {
      val (a, b) = (x.split(" ", -1).toSet, y.split(" ", -1).toSet)
      (a & b).size.toDouble / (a | b).size.toDouble
    }
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val expected = (for {
        (i, x) <- docs; (j, y) <- docs
        if i < j && jac(x, y) >= t
      } yield (i, j)).toSet
      val got = graft.api.Dedup.nearJaccardPairs(df, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"t=$t: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
    // the asymmetric probe must emit exactly the cross-side subset
    val isNew: Long => Boolean = _ % 3 == 0
    val expectedCross = (for {
      (i, x) <- docs; (j, y) <- docs
      if !isNew(i) && isNew(j) && jac(x, y) >= 0.8
    } yield (i, j)).toSet
    val gotCross = graft.api.Dedup.jaccardPairsAgainstIndex(
        df.filter(col("doc_id") % 3 === 0), df.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotCross == expectedCross,
      s"asymmetric: missing=${(expectedCross -- gotCross).take(3)} " +
        s"extra=${(gotCross -- expectedCross).take(3)}")
  }

  test("chunked shuffle-posture PPJoin splits a HOT prefix bucket and still emits exactly-once") {
    val s = spark
    import s.implicits._
    // A corpus engineered so a df=600 token ENTERS every prefix
    // (2-token docs at t=0.5 have prefix length 2 = the whole set) —
    // the fixture corpora and the 400k probes keep hot tokens OUT of
    // prefixes, so without this test the multi-chunk code path
    // (_nk = ceil(600/256) = 3, cross-chunk orientation, same-chunk
    // id order, min-common exactly-once) would only ever be covered
    // indirectly through the sf oracle. 100 duplicate doc pairs
    // (hot v_k) are the truth; all (hot u_i) docs share ONLY the hot
    // token pairwise (J = 1/3 < 0.5), yet every pair IS a candidate
    // (the hot bucket admits all ~180k of them — kept small enough to
    // collect).
    val docs = ((0L until 400L).map(i => (i, s"hot u_$i")) ++
      (0L until 100L).flatMap(k =>
        Seq((400 + 2 * k, s"hot v_$k"), (401 + 2 * k, s"hot v_$k")))).toDF("doc_id", "text")
    val truth = (0L until 100L).map(k => (400 + 2 * k, 401 + 2 * k)).toSet
    val cand = graft.api.Dedup.jaccardCandidatePairs(docs, "doc_id", "text", 0.5,
      broadcastJoins = false)
    val gotCand = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.api.Checkpoints.free(cand)
    // exactly-once emission: the raw candidate stream has NO distinct
    // behind it, so duplicate rows here mean the chunk-orientation or
    // min-common logic double-emits
    assert(gotCand.length == gotCand.toSet.size,
      s"candidate stream emitted duplicates: ${gotCand.length} rows, " +
        s"${gotCand.toSet.size} distinct")
    // the hot bucket admits u-u / u-v pairs (they DO share the hot
    // token, sizes compatible) — candidates are quadratic IN THE HOT
    // BUCKET by construction; what must hold is completeness and that
    // the exact verify then prunes to the truth, in BOTH postures
    assert(truth.subsetOf(gotCand.toSet),
      s"missing candidates: ${(truth -- gotCand.toSet).take(3)}")
    for (bc <- Seq(true, false)) {
      val got = graft.api.Dedup.nearJaccardPairs(docs, "doc_id", "text", 0.5,
          broadcastJoins = bc)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth,
        s"broadcastJoins=$bc: missing=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
    }
  }

  test("the local-df prefix fast path returns the same pairs as the window path") {
    // both prefix regimes — map-side selection against the collected
    // df table (small universe) vs posting⋈df join + window — must be
    // bit-identical: same (df asc, hash asc) order, same ceil slack
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def both(f: => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      val local = rows(f) // sf0.001 universes are far below the 1M gate
      spark.conf.set("spark.graft.jaccard.localDfThreshold", "0")
      try (local, rows(f))
      finally spark.conf.unset("spark.graft.jaccard.localDfThreshold")
    }
    val (wordL, wordW) = both(
      graft.api.Dedup.nearJaccardPairs(docs, "doc_id", "text", 0.8, Some("lang")))
    assert(wordL.nonEmpty && wordL == wordW, "word-jaccard regimes diverged")
    val (ngL, ngW) = both(
      graft.api.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7, Some("lang")))
    assert(ngL.nonEmpty && ngL == ngW, "ngram-jaccard regimes diverged")
    val isNew = col("doc_id") % 5 === 0
    val (incL, incW) = both(
      graft.api.Dedup.jaccardPairsAgainstIndex(docs.filter(isNew), docs.filter(!isNew),
        "doc_id", "text", 0.8, Some("lang")))
    assert(incL.nonEmpty && incL == incW,
      "asymmetric-jaccard regimes diverged (probe-side df-0 order?)")
  }

  test("ngram adaptive gate: escalates n on a saturated universe, inert under the default budget") {
    val s = spark
    import s.implicits._
    // near-dup pair whose Jaccard VALUE differs between n=3 and n=5,
    // plus background docs — so "which n actually ran" is observable
    // from the output, not from logs
    val docs = (Seq(
      (0L, "the cat sat on the mat today"),
      (1L, "the cat sat on the hat today")) ++
      (2L until 20L).map(i => (i, s"unique_${i}_filler doc body number ${i * 7}"))
    ).toDF("doc_id", "text")
    def pairs(adaptive: Boolean, n: Int, budget: Long = 32768L, maxN: Int = 11) =
      graft.api.Dedup.ngramJaccardPairs(docs, "doc_id", "text", n, 0.5,
          autoEscalate = adaptive, maxCandPerDoc = budget, maxN = maxN)
        .collect().map(_.toString).sorted.toSeq
    val fixed3 = pairs(adaptive = false, n = 3)
    val fixed5 = pairs(adaptive = false, n = 5)
    assert(fixed3.nonEmpty && fixed3 != fixed5,
      "test corpus must discriminate n=3 from n=5 output")
    // default budget: 20 docs can never exceed 32768 candidates/doc —
    // the gate must be a NO-OP and the answers bit-identical to fixed n
    assert(pairs(adaptive = true, n = 3) == fixed3)
    // budget 0 forces escalation; maxN=5 caps it at exactly one step,
    // so the adaptive output must equal the fixed n=5 run
    assert(pairs(adaptive = true, n = 3, budget = 0L, maxN = 5) == fixed5)
    // budget 0 with maxN=n: nowhere to go - proceeds (warns) at n=3
    assert(pairs(adaptive = true, n = 3, budget = 0L, maxN = 3) == fixed3)
    // a requested n above the escalation cap stays legal (the cap only
    // bounds escalation ABOVE the request - the pre-gate contract; this
    // THREW "maxN (11) must be >= n (13)" before the capN fix)
    assert(pairs(adaptive = true, n = 13) == pairs(adaptive = false, n = 13))
  }

  test("ngramJaccardPairs validates threshold before running any job (no leaked pins)") {
    // r17 ADVICE: the threshold require lived below the adaptive gate,
    // so an invalid threshold hashed the corpus, pinned a checkpoint,
    // and leaked it on throw. Now it must throw eagerly with zero
    // persisted RDDs left behind.
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a b d")).toDF("doc_id", "text")
    val before = s.sparkContext.getPersistentRDDs.keySet
    Seq(0.0, -0.5, 1.5).foreach { t =>
      val e = intercept[IllegalArgumentException] {
        graft.api.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
      }
      assert(e.getMessage.contains("threshold"))
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"invalid threshold leaked checkpoint RDDs: $leaked")
  }

  test("adaptive ngram gate: the winner's checkpoint is reachable by Checkpoints.free(result)") {
    // the gate hands its winning pinned shingle table to the
    // below-the-pin pipeline; a re-pin there would truncate lineage
    // and strand the probe's localCheckpoint blocks forever (each
    // bench run would leak one corpus-sized checkpoint)
    val s = spark
    import s.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"doc_${i}_alpha beta_$i gamma_${i % 7} delta"))
      .toDF("doc_id", "text")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val res = graft.api.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    res.count()
    graft.api.Checkpoints.free(res)
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked checkpoint RDDs: $leaked")
  }

  test("minhash scale mode (shuffle-hash joins) returns the same pairs as broadcast mode") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val bc = graft.api.Dedup.minhashPairs(docs, "doc_id", "text", 0.8)
    val sh = graft.api.Dedup.minhashPairs(docs, "doc_id", "text", 0.8,
      broadcastJoins = false)
    assert(rows(sh) == rows(bc), "shuffle-hash mode changed the pair set")
    val isNew = col("doc_id") % 5 === 0
    val bcI = graft.api.Dedup.minhashPairsAgainstIndex(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text", 0.8)
    val shI = graft.api.Dedup.minhashPairsAgainstIndex(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text", 0.8,
      broadcastJoins = false)
    assert(rows(shI) == rows(bcI), "incremental shuffle-hash mode changed the pair set")
  }

  test("connectedComponents matches a driver union-find on a 200k-edge random graph") {
    val s = spark
    import s.implicits._
    // seeded pseudo-random graph over 100k nodes: enough volume that
    // the loop's shuffles and checkpoints carry real data, validated
    // EXACTLY against a local union-find (not just spot properties)
    val n = 100000L
    val edgesDf = s.range(200000).select(
      pmod(hash(col("id") * 2 + 1), lit(n)).cast("long").as("id1"),
      pmod(hash(col("id") * 2 + 2), lit(n)).cast("long").as("id2"))
      .filter(col("id1") =!= col("id2"))
      .localCheckpoint()
    // force the DISTRIBUTED loop (200k edges would otherwise take the
    // driver union-find fast path), then run the default local path too
    // and require bit-identical labels from both
    val got =
      try {
        s.conf.set("spark.graft.graph.localEdgeThreshold", "0")
        val before = s.sparkContext.getPersistentRDDs.keySet
        val cc = graft.api.Dedup.connectedComponents(edgesDf)
        val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.api.Checkpoints.free(cc)
        val left = s.sparkContext.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"the distributed loop leaves pinned RDDs after free: $left")
        labels
      } finally s.conf.unset("spark.graft.graph.localEdgeThreshold")
    val gotLocal = graft.api.Dedup.connectedComponents(edgesDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLocal == got, "local union-find path must match the distributed loop")
    // driver-side union-find with path compression
    val edges = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // expected label = MIN member of the component, matching the contract
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val minOf = members.groupBy(find).map { case (root, ms) => root -> ms.min }
    val expected = members.map(m => m -> minOf(find(m))).toMap
    assert(got.size == expected.size,
      s"node count mismatch: got ${got.size}, expected ${expected.size}")
    val bad = expected.iterator.filter { case (k, v) => got(k) != v }.take(3).toList
    assert(bad.isEmpty, s"label mismatches (first 3): $bad")
  }

  test("connectedComponents resolves a long chain and enforces the convergence contract") {
    val s = spark
    import s.implicits._
    // a 40-hop chain: plain propagation would need >40 rounds; the
    // pointer-halving shortcut must resolve it within ~6 (O(log d)) —
    // asserted by the squeezed maxIter=10 budget. And with a budget
    // below the log bound it must THROW, not return labels that are
    // silently not the reachable minimum.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    // the convergence contract is a property of the DISTRIBUTED loop;
    // pin the conf so the tiny chain doesn't take the local fast path
    try {
      val s2 = spark
      s2.conf.set("spark.graft.graph.localEdgeThreshold", "0")
      val labels = graft.api.Dedup.connectedComponents(chain, maxIter = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 41 && labels.values.forall(_ == 0L),
        s"chain must collapse to cluster 0: $labels")
      val ex = intercept[IllegalStateException] {
        graft.api.Dedup.connectedComponents(chain, maxIter = 3)
      }
      assert(ex.getMessage.contains("did not converge"))
      // non-strict mode returns the partial labels instead of throwing
      val partial = graft.api.Dedup.connectedComponents(chain, maxIter = 3, strict = false)
      assert(partial.count() == 41)
    } finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    // the default (local union-find) path must resolve the same chain
    val local = graft.api.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.size == 41 && local.values.forall(_ == 0L),
      s"local path must collapse the chain to cluster 0: $local")
  }

  test("cosineTopKPairsBlocked equals the brute-force global top-k, bitwise") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val cents = graft.api.Similarity.trainCodebook(e, "vec_id", "embedding", k = 16)
    val brute = graft.api.Similarity.cosineTopKPairs(e, "vec_id", "embedding",
        k = 100, simRound = Some(4))
      .orderBy(col("sim").desc, col("id1"), col("id2")).collect()
    val blocked = graft.api.Similarity.cosineTopKPairsBlocked(e, "vec_id",
        "embedding", k = 100, centroids = cents, simRound = Some(4))
      .orderBy(col("sim").desc, col("id1"), col("id2")).collect()
    assert(brute.length == 100 && blocked.length == 100)
    brute.zip(blocked).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1) &&
        java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(b.getDouble(2)),
        s"mismatch: $a vs $b")
    }
  }

  test("cosineTopKPairsBlocked survives corpora with fewer than k cell-local pairs") {
    val s = spark
    import s.implicits._
    // 3 vectors → 1 cell-local pair < k = 5: the witness pass cannot
    // set a threshold, so the emit-everything fallback returns all 3
    val tiny = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val got = graft.api.Similarity.cosineTopKPairsBlocked(tiny, "vec_id",
        "embedding", k = 5, centroids = cents, simRound = Some(4)).collect()
    assert(got.length == 3, s"expected all 3 pairs, got ${got.length}")
  }

  test("cosinePairsAgainstIndexCellBlocked equals the brute-force batch×corpus join") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def hex1(id: Long): Char = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(0)
    val (batch, corpus) = e.partition(v => hex1(v._1) >= 'd')
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (bid, bv) <- batch; (cid, cv) <- corpus
      s = math.floor(cosine(bv, cv) * 10000 + 0.5) / 10000 if s >= 0.4
    } yield (bid, cid, s)).toSet
    val got = SparkEntry.queries("dedup_embed_incremental")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "the fixture must produce at least one pair")
    assert(got == expected,
      s"missing: ${(expected diff got).take(3)}, extra: ${(got diff expected).take(3)}")
  }
}
