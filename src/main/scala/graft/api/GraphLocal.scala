package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** SMALL-GRAPH FAST PATHS for the [[GraphOps]] kernels — the
  * decide-and-deliver pattern [[Dedup.connectedComponents]] established
  * (r21, optimization round): an AGGREGATED analytics graph (the
  * nation-level trade graph, a near-dup pair graph, a domain link
  * rollup) is usually orders of magnitude smaller than the corpus that
  * produced it, and below an edge budget a driver-side kernel beats the
  * iterative DataFrame loop's per-round job latency (each round costs a
  * join + aggregate + eager checkpoint — 3-6 jobs of pure scheduling
  * overhead on a 25-node graph) by an order of magnitude.
  *
  * ONE bounded action decides AND delivers: collect up to threshold+1
  * edge rows from the already-pinned edge frame — fewer than the cap
  * means the graph fits and the collected rows ARE the kernel input;
  * hitting the cap cost only a bounded probe over checkpointed blocks
  * and the caller takes the distributed loop unchanged. Driver memory
  * is bounded by the conf (~2M edge tuples ≈ tens of MB at the
  * default); a 100 TB link graph exceeds any sane threshold and always
  * takes the loop. Set `spark.graft.graph.localEdgeThreshold=0` to
  * force the distributed path (the loop-posture tests do).
  *
  * EVERY kernel here replicates its distributed twin's arithmetic
  * token for token — integer mass/degree/vote sums, the Canon 6-dp
  * grid-round before decimal folds, the same IEEE op order for each
  * float readout — so the two paths are bit-identical (GraphSpec's
  * parity tests assert it kernel by kernel).
  */
private[api] object GraphLocal {

  /** The edge budget of every graph fast path, connected components
    * included ([[LocalProbe.collectBounded]]'s `maxRows`). */
  def maxEdges(spark: SparkSession): Long =
    spark.conf.get("spark.graft.graph.localEdgeThreshold", "2000000").toLong

  /** Canon.rk on the driver: floor(x·10^k + 0.5)/10^k in pure IEEE
    * double ops — bit-identical to the Column form for the same input. */
  private def rk(x: Double, k: Int): Double = {
    val p = math.pow(10.0, k.toDouble)
    math.floor(x * p + 0.5) / p
  }

  /** double → DECIMAL(·,6) exactly as Spark's Cast does it:
    * BigDecimal.valueOf (shortest decimal repr) then HALF_UP at 6. */
  private def dec6(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)

  // ---- kernels ----------------------------------------------------

  /** [[GraphOps.pagerankMass]] recurrence on collected (src,dst) rows
    * (already self-loop-filtered and distinct). */
  def pagerank(spark: SparkSession, rows: Array[Row], iters: Int,
      massScale: Long, dampPct: Int): DataFrame = {
    val s = spark; import s.implicits._
    val e = rows.map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.length.toLong
    // SAME empty-input contract as the distributed loop, which also
    // requires a non-empty edge set (GraphOps.pagerankMass checks
    // n > 0 after the node fold) — identical message, identical
    // exception type, pinned by GraphLocalParitySpec (r22)
    require(n > 0, "pagerank needs a non-empty edge set")
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val teleport = (massScale * (100L - dampPct) / 100L) / n
    var mass = nodes.map(_ -> massScale / n).toMap
    for (_ <- 1 to iters) {
      val in = collection.mutable.Map.empty[Long, Long]
      e.foreach { case (src, dst) =>
        val send = ((mass(src) * dampPct) / 100L) / outdeg(src)
        in(dst) = in.getOrElse(dst, 0L) + send
      }
      mass = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    nodes.toSeq.map(v => (v, mass(v))).toDF("node", "mass")
  }

  /** [[GraphOps.bfsDistances]] min-plus rounds on collected directed
    * (src,dst) rows; sources deduped (the one-row-per-node invariant). */
  def bfs(spark: SparkSession, rows: Array[Row], sources: Set[Long],
      maxHops: Int): DataFrame = {
    val s = spark; import s.implicits._
    val e = rows.map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val nodeSet = nodes.toSet
    var dist: Map[Long, Long] = sources.filter(nodeSet).map(_ -> 0L).toMap
    for (_ <- 1 to maxHops) {
      val cand = collection.mutable.Map.empty[Long, Long]
      e.foreach { case (u, v) =>
        dist.get(u).foreach { du =>
          val nd = du + 1L
          if (cand.get(v).forall(nd < _)) cand(v) = nd
        }
      }
      dist = nodes.flatMap { v =>
        (dist.get(v), cand.get(v)) match {
          case (Some(a), Some(b)) => Some(v -> math.min(a, b))
          case (Some(a), None)    => Some(v -> a)
          case (None, Some(b))    => Some(v -> b)
          case _                  => None
        }
      }.toMap
    }
    nodes.toSeq.map(v => (v, dist.getOrElse(v, -1L))).toDF("node", "dist")
  }

  /** [[GraphOps.weightedDistances]] min-plus rounds on the collected
    * symmetric (u,v,w) fold. */
  def weighted(spark: SparkSession, sym: Array[Row], sources: Set[Long],
      rounds: Int): DataFrame = {
    val s = spark; import s.implicits._
    val e = sym.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = e.map(_._1).distinct
    val nodeSet = nodes.toSet
    var dist: Map[Long, Long] = sources.filter(nodeSet).map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = collection.mutable.Map.empty[Long, Long]
      e.foreach { case (u, v, w) =>
        dist.get(u).foreach { du =>
          val nd = du + w
          if (cand.get(v).forall(nd < _)) cand(v) = nd
        }
      }
      dist = nodes.flatMap { v =>
        (dist.get(v), cand.get(v)) match {
          case (Some(a), Some(b)) => Some(v -> math.min(a, b))
          case (Some(a), None)    => Some(v -> a)
          case (None, Some(b))    => Some(v -> b)
          case _                  => None
        }
      }.toMap
    }
    nodes.toSeq.map(v => (v, dist.getOrElse(v, -1L))).toDF("node", "dist")
  }

  /** Undirected adjacency from collected distinct (lo,hi) rows. */
  private def adjacency(und: Array[(Long, Long)]): Map[Long, Set[Long]] = {
    val m = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    und.foreach { case (a, b) =>
      m.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      m.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** [[GraphOps.harmonicCentrality]] on collected (lo,hi) rows: BFS per
    * origin to `maxHops`, then the Canon-gridded decimal harmonic fold. */
  def harmonic(spark: SparkSession, rows: Array[Row], maxHops: Int): DataFrame = {
    val s = spark; import s.implicits._
    val und = rows.map(r => (r.getLong(0), r.getLong(1)))
    val adj = adjacency(und)
    val nodes = adj.keys.toSeq
    // reached(v) collects (origin, dist) contributions INTO v — the
    // undirected BFS ball, same pairs as the sparse label frame
    val acc = collection.mutable.Map.empty[Long, (Long, java.math.BigDecimal)]
    nodes.foreach { origin =>
      var frontier = Set(origin)
      var seen = Map(origin -> 0L)
      var hop = 0L
      while (hop < maxHops && frontier.nonEmpty) {
        hop += 1
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen.keySet
        seen ++= next.map(_ -> hop)
        frontier = next
      }
      seen.foreach { case (v, d) =>
        if (v != origin) {
          val term = dec6(rk(1.0 / d.toDouble, 6))
          val (c, h) = acc.getOrElse(v, (0L, java.math.BigDecimal.ZERO))
          acc(v) = (c + 1L, h.add(term))
        }
      }
    }
    nodes.map { v =>
      val (c, h) = acc.getOrElse(v, (0L, java.math.BigDecimal.ZERO))
      (v, c, if (c == 0L) 0.0 else rk(h.doubleValue, 4))
    }.toDF("node", "n_reached", "harmonic")
  }

  /** [[GraphOps.kcoreMembers]] parallel peel on collected (lo,hi) rows. */
  def kcore(spark: SparkSession, rows: Array[Row], k: Int, rounds: Int): DataFrame = {
    val s = spark; import s.implicits._
    val und = rows.map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
    var sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    for (_ <- 1 to rounds) {
      val deg = sym.groupBy(_._1).map { case (u, es) => u -> es.length }
      val keep = deg.collect { case (u, d) if d >= k => u }.toSet
      sym = sym.filter { case (u, v) => keep(u) && keep(v) }
    }
    val coreDeg = sym.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    nodes.toSeq.map { v =>
      val d = coreDeg.getOrElse(v, 0L)
      (v, if (coreDeg.contains(v)) 1L else 0L, d)
    }.toDF("node", "in_kcore", "kcore_deg")
  }

  /** [[GraphOps.labelPropagationOnSym]] synchronous weighted rounds on
    * the collected symmetric (u,v,w) fold. */
  def lpa(spark: SparkSession, sym: Array[Row], rounds: Int): DataFrame = {
    val s = spark; import s.implicits._
    val e = sym.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = e.map(_._1).distinct
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val votes = collection.mutable.Map.empty[(Long, Long), Long]
      e.foreach { case (u, v, w) =>
        val key = (u, lbl(v))
        votes(key) = votes.getOrElse(key, 0L) + w
      }
      lbl = votes.toSeq
        .map { case ((u, l), w) => (u, l, w) }
        .groupBy(_._1)
        .map { case (u, vs) =>
          // argmax: votes DESC, label ASC — the deterministic tie rule
          u -> vs.minBy { case (_, l, w) => (-w, l) }._2
        }
    }
    nodes.toSeq.map(v => (v, lbl(v))).toDF("node", "lbl")
  }

  /** Per-node triangle counts on a collected distinct (lo,hi) edge set
    * (orientation-free exact enumeration — each triangle a<b<c once). */
  private def triangleCounts(und: Array[(Long, Long)]): Map[Long, Long] = {
    val adj = adjacency(und)
    val cnt = collection.mutable.Map.empty[Long, Long]
    und.foreach { case (a, b) =>
      val (lo, hi) = if (a < b) (a, b) else (b, a)
      val (sm, lg) = {
        val x = adj.getOrElse(lo, Set.empty); val y = adj.getOrElse(hi, Set.empty)
        if (x.size <= y.size) (x, y) else (y, x)
      }
      sm.foreach { c =>
        if (c > hi && lg(c)) {
          cnt(lo) = cnt.getOrElse(lo, 0L) + 1L
          cnt(hi) = cnt.getOrElse(hi, 0L) + 1L
          cnt(c) = cnt.getOrElse(c, 0L) + 1L
        }
      }
    }
    cnt.toMap
  }

  /** [[GraphOps.trianglesPerNode]] on collected (lo,hi) rows. */
  def triangles(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val s = spark; import s.implicits._
    val und = rows.map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
    val cnt = triangleCounts(und)
    nodes.toSeq.map(v => (v, cnt.getOrElse(v, 0L))).toDF("node", "n_tri")
  }

  /** [[GraphOps.clusteringCoefficient]] on collected (lo,hi) rows. */
  def clustering(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val s = spark; import s.implicits._
    val und = rows.map(r => (r.getLong(0), r.getLong(1)))
    val adj = adjacency(und)
    val cnt = triangleCounts(und)
    adj.keys.toSeq.map { v =>
      val deg = adj(v).size.toLong
      val t = cnt.getOrElse(v, 0L)
      val cc = if (deg >= 2)
        rk(t.toDouble * 2.0 / (deg.toDouble * (deg - 1L).toDouble), 6)
      else 0.0
      (v, deg, t, cc)
    }.toDF("node", "deg", "n_tri", "local_cc")
  }

  /** [[GraphOps.linkPredict]] on collected (lo,hi) rows: wedge
    * enumeration at each shared neighbor, Canon-gridded Adamic–Adar. */
  def linkPredict(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val s = spark; import s.implicits._
    val und = rows.map(r => (r.getLong(0), r.getLong(1)))
    val undSet = und.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val adj = adjacency(und)
    val cn = collection.mutable.Map.empty[(Long, Long), Long]
    val aa = collection.mutable.Map.empty[(Long, Long), java.math.BigDecimal]
    adj.foreach { case (w, nbrs) =>
      if (nbrs.size >= 2) { // deg(w) ≥ 2 iff w is a shared neighbor — ln(deg) > 0
        val term = dec6(rk(1.0 / math.log(nbrs.size.toDouble), 6))
        val arr = nbrs.toArray.sorted
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val key = (arr(i), arr(j))
            cn(key) = cn.getOrElse(key, 0L) + 1L
            aa(key) = aa.getOrElse(key, java.math.BigDecimal.ZERO).add(term)
            j += 1
          }
          i += 1
        }
      }
    }
    cn.keys.toSeq.sorted.map { case (a, b) =>
      val c = cn((a, b))
      val da = adj(a).size.toLong; val db = adj(b).size.toLong
      (a, b, c, c.toDouble / (da + db - c).toDouble,
        aa((a, b)).doubleValue, if (undSet((a, b))) 1L else 0L)
    }.toDF("a", "b", "cn", "jaccard", "adamic_adar", "adjacent")
  }

  /** [[GraphOps.degreeStats]] on collected (src,dst,w) rows. */
  def degreeStats(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val s = spark; import s.implicits._
    val e = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = e.groupBy(_._1).map { case (u, es) =>
      u -> (es.length.toLong, es.map(_._3).sum) }
    val in = e.groupBy(_._2).map { case (u, es) =>
      u -> (es.length.toLong, es.map(_._3).sum) }
    val nodes = (out.keys ++ in.keys).toSeq.distinct
    nodes.map { v =>
      val (od, ow) = out.getOrElse(v, (0L, 0L))
      val (id, iw) = in.getOrElse(v, (0L, 0L))
      (v, od, id, ow, iw)
    }.toDF("node", "out_deg", "in_deg", "out_w", "in_w")
  }

  /** [[GraphOps.modularityOnSym]] readout on the collected symmetric
    * (u,v,w) fold and a bounded (node → label) map. */
  def modularity(spark: SparkSession, sym: Array[Row],
      lab: Map[Long, Long]): DataFrame = {
    val s = spark; import s.implicits._
    val e = sym.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = e.map(_._3).sum
    val wD = w.toDouble
    // per-node degree weight, then per-community member count + a_deg
    // (inner join semantics: nodes absent from `lab` drop out)
    val byNode = e.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val comm = collection.mutable.Map.empty[Long, (Long, Long)]
    byNode.foreach { case (u, k) =>
      lab.get(u).foreach { c =>
        val (n, a) = comm.getOrElse(c, (0L, 0L))
        comm(c) = (n + 1L, a + k)
      }
    }
    val eIn = collection.mutable.Map.empty[Long, Long]
    e.foreach { case (u, v, ew) =>
      (lab.get(u), lab.get(v)) match {
        case (Some(lu), Some(lv)) if lu == lv =>
          eIn(lu) = eIn.getOrElse(lu, 0L) + ew
        case _ => ()
      }
    }
    comm.toSeq.map { case (c, (n, aDeg)) =>
      val ein = eIn.getOrElse(c, 0L)
      val contrib = rk(ein.toDouble / wD
        - (aDeg.toDouble / wD) * (aDeg.toDouble / wD), 6)
      (c, n, ein, aDeg, contrib)
    }.toDF("community", "n_nodes", "e_in", "a_deg", "contrib")
  }
}
