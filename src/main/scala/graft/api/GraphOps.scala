package graft.api

import graft.Canon
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed graph analytics over relational edge tables — the
  * link-graph side of a corpus pipeline (domain authority for crawl
  * quality weighting, community/cluster diagnostics). Everything here
  * is expressed as joins + hash aggregates over an `(src, dst)` edge
  * DataFrame, so Catalyst plans the shuffles and the same code runs
  * from a 25-node fixture graph to a web-scale link graph.
  *
  * Determinism: PageRank iterates in FIXED-POINT integer mass (see
  * [[pagerankMass]]) — double-sum iteration would make each round's
  * ranks order-dependent (partial-agg merge order), and iteration
  * AMPLIFIES that drift; bigint sums are associative, so every engine
  * and every shuffle order produces bit-identical ranks.
  */
object GraphOps {

  /** PageRank by integer mass conservation: each node starts with
    * `massScale / N` units; per iteration a node keeps nothing, sends
    * `((mass * dampPct) div 100) div outdeg` along each out-edge, and
    * every node receives `(massScale * (100-dampPct) / 100) div N`
    * teleport mass plus its in-edge sum. After `iters` rounds the mass
    * vector is the (damped) PageRank scaled by `massScale`, exact to
    * one unit per division (~1e-12 relative at the default scale).
    *
    * Why fixed point: rank sums in double depend on aggregation merge
    * order and so differ run-to-run and engine-to-engine — and a rank
    * DIVERGENCE in round k multiplies through rounds k+1..n. Integer
    * sums are exact and associative: the result is a pure function of
    * the edge set, reproducible anywhere (the floor-division losses —
    * at most outdeg units per node per round — are deterministic too).
    * Dangling nodes (no out-edges) simply retain no damped mass: their
    * 85% share leaves the system rather than being redistributed; at
    * `massScale`=1e12 that costs nothing to stability and keeps the
    * per-iteration plan a single equi-join + hash aggregate.
    *
    * Scale shape: the edge list and out-degree frame are loop-invariant
    * and pinned once ([[Checkpoints]]); each iteration is one
    * mass⋈edges equi-join (mass broadcast when `broadcastMass`, the
    * single-node default — an equi-shuffle on node id otherwise, the
    * web-scale posture where the rank vector itself is billions of
    * rows) plus one hash aggregate on dst. Mass frames re-pin per
    * round, so the loop-carried plan stays O(1) and survives executor
    * loss under the reliable-checkpoint conf. The only driver scalar is
    * N (one long). */
  def pagerankMass(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, massScale: Long = 1000000000000L, dampPct: Int = 85,
      broadcastMass: Boolean = true): DataFrame = Checkpoints.scope {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct > 0 && dampPct < 100, s"dampPct must be in (0,100), got $dampPct")
    val e = Checkpoints.pin(edges
      .select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .filter(col("_src") =!= col("_dst")).distinct())
    // SMALL-GRAPH FAST PATH (see GraphLocal): one bounded probe over the
    // pinned edge frame decides AND delivers; big graphs take the loop
    val local = LocalProbe.collectBounded(e, GraphLocal.maxEdges(e.sparkSession))
    if (local.isDefined)
      GraphLocal.pagerank(edges.sparkSession, local.get, iters, massScale, dampPct)
    else {
      val nodes = Checkpoints.pin(
        e.select(col("_src").as("node")).union(e.select(col("_dst").as("node"))).distinct())
      val eDeg = Checkpoints.pin(
        e.join(e.groupBy("_src").agg(count(lit(1)).as("_outdeg")), "_src"))
      val n = nodes.count() // bounded driver scalar: one long
      require(n > 0, "pagerank needs a non-empty edge set")
      val teleport = (massScale * (100L - dampPct) / 100L) / n
      def pinMass(m: DataFrame): DataFrame =
        if (broadcastMass) broadcast(m) else m.hint("shuffle_hash")
      var mass = nodes.withColumn("mass", lit(massScale / n))
      var pinnedRounds = 0
      for (_ <- 1 to iters) {
        val in = eDeg.join(pinMass(mass), col("_src") === col("node"))
          .select(col("_dst"), expr(s"((mass * $dampPct) div 100) div _outdeg").as("_send"))
          .groupBy("_dst").agg(sum(col("_send")).as("_in"))
        val next = Checkpoints.pin(nodes.join(in, col("node") === col("_dst"), "left")
          .select(col("node"), (lit(teleport) + coalesce(col("_in"), lit(0L))).as("mass")))
        // the new pin is already materialized, so the superseded round's
        // blocks can go — a long loop would otherwise pin every round's
        // rank vector (the connectedComponents loop frees the same way)
        if (pinnedRounds > 0) Checkpoints.free(mass)
        mass = next
        pinnedRounds += 1
      }
      mass
    }
  }

  /** Bounded-hop BFS distances from a source node set, by min-plus
    * label propagation: dist₀ = 0 on sources, dist_{k+1}(v) =
    * least(dist_k(v), min over in-edges u→v of dist_k(u)+1), `maxHops`
    * rounds. Pure integer labels — bit-identical in every engine, no
    * convergence question: the result is DEFINED as "shortest path
    * using ≤ maxHops edges" (equals true BFS distance whenever the
    * graph's reachable diameter ≤ maxHops). Unreached nodes emit -1
    * (NULL-free by design). `least` skips NULLs identically in Spark
    * and SQL engines, which is what lets the frontier grow monotonely
    * without a sentinel-infinity.
    *
    * Scale shape mirrors [[pagerankMass]]: loop-invariant edges pinned
    * once, one dist⋈edges equi-join + one hash aggregate per round,
    * dist re-pinned per round (O(1) loop-carried plan); `broadcastDist`
    * false = the billion-node equi-shuffle posture. `sources` is a
    * one-column (`node`) frame so source sets can be data-derived —
    * no driver-side id list. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int,
      broadcastDist: Boolean = true): DataFrame = Checkpoints.scope {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = Checkpoints.pin(edges
      .select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .filter(col("_src") =!= col("_dst")).distinct())
    // SMALL-GRAPH FAST PATH — both the edge set and the (deduped)
    // source set must fit the budget; either probe failing falls
    // through to the distributed loop unchanged
    val budget = GraphLocal.maxEdges(e.sparkSession)
    val localE = LocalProbe.collectBounded(e, budget)
    val localSrc = localE.flatMap(_ => LocalProbe.collectBounded(
      sources.select(col("node").cast("long").as("node")).distinct(), budget))
    if (localSrc.isDefined)
      GraphLocal.bfs(edges.sparkSession, localE.get,
        localSrc.get.map(_.getLong(0)).toSet, maxHops)
    else {
      val nodes = Checkpoints.pin(
        e.select(col("_src").as("node")).union(e.select(col("_dst").as("node"))).distinct())
      // distinct: dist₀ = nodes LEFT-join src, so a node listed twice in
      // `sources` would duplicate its dist row and every round/output row
      // after it — the same one-row-per-node invariant fix
      // weightedDistances carries (r20 ADVICE closed here)
      val src = sources.select(col("node").cast("long").as("node")).distinct()
        .withColumn("_d0", lit(0L))
      def pinD(m: DataFrame): DataFrame =
        if (broadcastDist) broadcast(m) else m.hint("shuffle_hash")
      var dist = Checkpoints.pin(nodes.join(src, Seq("node"), "left")
        .select(col("node"), col("_d0").as("dist")))
      for (_ <- 1 to maxHops) {
        val nb = e.join(pinD(dist.filter(col("dist").isNotNull)),
            col("_src") === col("node"))
          .groupBy(col("_dst")).agg(min(col("dist") + lit(1L)).as("_nd"))
        val next = Checkpoints.pin(nodes
          .join(dist, Seq("node"))
          .join(nb, col("node") === col("_dst"), "left")
          .select(col("node"), least(col("dist"), col("_nd")).as("dist")))
        Checkpoints.free(dist) // superseded round — see pagerankMass
        dist = next
      }
      dist.select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
    }
  }

  /** Bounded WEIGHTED shortest-path distances (min-plus relaxation)
    * from a source node set over the UNDIRECTED weighted graph — the
    * Dijkstra-equivalent rung above [[bfsDistances]]' hop counts:
    * dist₀ = 0 on sources, dist_{k+1}(v) = least(dist_k(v), min over
    * symmetric edges u→v of dist_k(u) + w(u,v)), `rounds` rounds.
    * Pure bigint labels (the [[symmetricWeights]] integer-weight
    * contract), so every round is bit-identical in every engine and
    * there is no convergence question: the result is DEFINED as "the
    * cheapest path using ≤ rounds edges" — it equals the true weighted
    * shortest path whenever no optimal path uses more than `rounds`
    * hops (Bellman–Ford's bound: rounds ≥ |V|−1 always suffices;
    * real graphs converge in far fewer — GraphSpec proves the declared
    * budget is past the fixture family's weighted diameter by showing
    * rounds R ≡ R+3). Unreached nodes emit -1 (NULL-free by design).
    *
    * Scale shape: ONE pinned symmetric fold (shuffle ∝ edges), then
    * per round one dist⋈sym equi-join + one min aggregate with the
    * dist frame re-pinned and the superseded round freed — O(1)
    * loop-carried plan, state ∝ nodes. `broadcastDist` false is the
    * billion-node equi-shuffle posture, exactly as [[bfsDistances]]. */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, sources: DataFrame, rounds: Int,
      broadcastDist: Boolean = true): DataFrame = Checkpoints.scope {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = Checkpoints.pin(symmetricWeights(edges, srcCol, dstCol, wCol))
    // SMALL-GRAPH FAST PATH — probe the pinned symmetric fold (and the
    // deduped source set); either probe failing takes the loop
    val budget = GraphLocal.maxEdges(sym.sparkSession)
    val localSym = LocalProbe.collectBounded(sym, budget)
    val localSrc = localSym.flatMap(_ => LocalProbe.collectBounded(
      sources.select(col("node").cast("long").as("node")).distinct(), budget))
    if (localSrc.isDefined)
      GraphLocal.weighted(edges.sparkSession, localSym.get,
        localSrc.get.map(_.getLong(0)).toSet, rounds)
    else {
      val nodes = Checkpoints.pin(sym.select(col("u").as("node")).distinct())
      // distinct: dist₀ = nodes LEFT-join src, so a node listed twice
      // in `sources` would duplicate its dist row and every
      // round/output row after it — the one-row-per-node invariant the
      // nodes-re-join elision below depends on. Source-set-sized.
      val src = sources.select(col("node").cast("long").as("node")).distinct()
        .withColumn("_d0", lit(0L))
      def pinD(m: DataFrame): DataFrame =
        if (broadcastDist) broadcast(m) else m.hint("shuffle_hash")
      var dist = Checkpoints.pin(nodes.join(src, Seq("node"), "left")
        .select(col("node"), col("_d0").as("dist")))
      for (_ <- 1 to rounds) {
        val nb = sym.join(pinD(dist.filter(col("dist").isNotNull)),
            col("u") === col("node"))
          .groupBy(col("v")).agg(min(col("dist") + col("w")).as("_nd"))
        // dist is one row per node BY CONSTRUCTION (dist₀ = nodes
        // left-join sources; every round preserves it), so joining
        // back through `nodes` would be a 1:1 self-confirmation join
        // — one redundant node-scale equi-join per round at the
        // billion-node posture (review finding, r19; bfsDistances
        // keeps its historical shape — same invariant, same rewrite
        // available, but its committed plans/benches pin that form)
        val next = Checkpoints.pin(dist
          .join(nb, col("node") === col("v"), "left")
          .select(col("node"), least(col("dist"), col("_nd")).as("dist")))
        Checkpoints.free(dist) // superseded round — see pagerankMass
        dist = next
      }
      dist.select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
    }
  }

  /** Per-node degree/strength profile of a weighted directed edge
    * table: out/in degree (edge rows per endpoint) and out/in strength
    * (summed `weightCol`), zero-coalesced over the full node universe.
    * Assumes a SIMPLE edge table — one row per (src, dst), as the edge
    * derivations here produce; parallel edges or self-loops count at
    * their multiplicity (normalize upstream if that is not wanted —
    * this function must not distinct away legitimate weighted rows).
    * Two hash aggregates + one outer join on node id — no window, no
    * sort; at scale every step is the pre-aggregated tiny side of the
    * pipeline that produced the edges. */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): DataFrame = {
    // SMALL-GRAPH FAST PATH — the probe runs the (usually pre-pinned)
    // edge derivation once; node ids surface as long on this path
    // (every other kernel here already casts — output consumers key on
    // node VALUE, and int/long equi-joins coerce)
    val local = LocalProbe.collectBounded(edges.select(
      col(srcCol).cast("long"), col(dstCol).cast("long"),
      col(weightCol).cast("long")), GraphLocal.maxEdges(edges.sparkSession))
    if (local.isDefined)
      return GraphLocal.degreeStats(edges.sparkSession, local.get)
    // node ids cast to long HERE TOO (r22): the output schema must not
    // depend on which side of spark.graft.graph.localEdgeThreshold the
    // graph lands — both postures emit long node ids (numeric ids are
    // the contract; every kernel in this file already casts)
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst"),
      col(weightCol).cast("long").as("_w"))
    val out = e.groupBy(col("_src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(col("_w")).as("out_w"))
    val in = e.groupBy(col("_dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(col("_w")).as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Link-prediction scores for every node pair of the UNDIRECTED
    * simple graph sharing at least one neighbor: common-neighbor count,
    * neighbor-set Jaccard cn/(deg a + deg b − cn), and Adamic–Adar
    * Σ over common neighbors w of 1/ln(deg w) — the classic
    * missing-edge rankers (who SHOULD be trading/linking but is not),
    * plus an `adjacent` 0/1 flag so consumers can keep either the
    * recommendation view (adjacent=0) or the edge-strength view.
    *
    * Determinism: cn/deg are exact integers; Jaccard is one correctly-
    * rounded IEEE division of exact ints; the Adamic–Adar SUM would be
    * merge-order-dependent in double, so each 1/ln(deg w) term is
    * grid-rounded to 6 dp FIRST and the sum runs in exact decimal
    * (the money-column convention applied to score space). ln's
    * argument is an integer ≥ 2 (a common neighbor has degree ≥ 2 by
    * construction), so the term is always finite and positive.
    *
    * Scale shape: one wedge self-equi-join on the shared neighbor
    * (candidate volume Σ_w deg(w)² — the same celebrity-node hazard as
    * triangle counting; degree-cap or sample hub nodes upstream on
    * power-law graphs) feeding one (a, b) hash aggregate, then two
    * broadcastable degree joins. No windows, no driver state. */
  def linkPredict(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Checkpoints.scope {
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // SMALL-GRAPH FAST PATH — see GraphLocal
    val local = LocalProbe.collectBounded(und, GraphLocal.maxEdges(und.sparkSession))
    if (local.isDefined) GraphLocal.linkPredict(edges.sparkSession, local.get)
    else {
      val nbr = und.select(col("lo").as("u"), col("hi").as("v"))
        .union(und.select(col("hi").as("u"), col("lo").as("v")))
      val deg = nbr.groupBy("u").agg(count(lit(1)).as("_deg"))
      val term = Canon.rk(lit(1.0) / log(col("_degw").cast("double")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6))
      val pairs = nbr.select(col("v").as("_w"), col("u").as("a"))
        .join(nbr.select(col("v").as("_w"), col("u").as("b")), "_w")
        .filter(col("a") < col("b"))
        .join(deg.select(col("u").as("_w"), col("_deg").as("_degw")), "_w")
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cn"), sum(term).cast("double").as("adamic_adar"))
      pairs
        .join(deg.select(col("u").as("a"), col("_deg").as("_da")), "a")
        .join(deg.select(col("u").as("b"), col("_deg").as("_db")), "b")
        .join(und.select(col("lo").as("a"), col("hi").as("b"), lit(1L).as("_adj")),
          Seq("a", "b"), "left")
        .select(col("a"), col("b"), col("cn"),
          (col("cn").cast("double")
            / (col("_da") + col("_db") - col("cn")).cast("double")).as("jaccard"),
          col("adamic_adar"), coalesce(col("_adj"), lit(0L)).as("adjacent"))
    }
  }

  /** Per-node triangle counts of the UNDIRECTED simple graph underlying
    * a directed edge table, by degree-oriented enumeration: each
    * undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher one, wedges are enumerated at the low end, and a
    * wedge closes iff its (v, w) cap edge exists in the same
    * orientation. Every triangle is counted exactly once under ANY
    * acyclic orientation, so the result is orientation-independent —
    * but the DEGREE orientation bounds per-node wedge fan-out by
    * O(sqrt(m)) on skewed graphs (a celebrity node of degree d would
    * otherwise enumerate d² wedges on one reducer; oriented by degree
    * it enumerates almost none). Output: (node, n_tri) for every node
    * of the undirected graph, zero-coalesced. */
  def trianglesPerNode(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Checkpoints.scope {
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // SMALL-GRAPH FAST PATH — see GraphLocal
    val local = LocalProbe.collectBounded(und, GraphLocal.maxEdges(und.sparkSession))
    if (local.isDefined) GraphLocal.triangles(edges.sparkSession, local.get)
    else {
      val deg = und.select(col("lo").as("node")).union(und.select(col("hi").as("node")))
        .groupBy("node").agg(count(lit(1)).as("_deg"))
      // total orientation order: the (degree, id) STRUCT, compared
      // lexicographically — not a packed d*2^32+id long, which collides
      // (and loses the total order) once ids reach 2^32 or go negative,
      // exactly the 64-bit-id regime a web-scale link graph lives in
      val kLo = struct(col("_dlo").as("d"), col("lo").as("i"))
      val kHi = struct(col("_dhi").as("d"), col("hi").as("i"))
      val oriented = Checkpoints.pin(und
        .join(deg.select(col("node").as("lo"), col("_deg").as("_dlo")), "lo")
        .join(deg.select(col("node").as("hi"), col("_deg").as("_dhi")), "hi")
        .select(
          when(kLo < kHi, col("lo")).otherwise(col("hi")).as("u"),
          when(kLo < kHi, col("hi")).otherwise(col("lo")).as("v"),
          // the orientation key of v, for the wedge ordering below
          greatest(kLo, kHi).as("_kv")))
      // wedges at u: pairs of out-neighbors ordered by orientation key,
      // closed by the (v, w) oriented cap edge
      val e1 = oriented.select(col("u"), col("v").as("x"), col("_kv").as("_kx"))
      val e2 = oriented.select(col("u"), col("v").as("y"), col("_kv").as("_ky"))
      val tri = e1.join(e2, Seq("u")).filter(col("_kx") < col("_ky"))
        .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
        .select(col("u"), col("x"), col("y"))
      val nodes = deg.select("node")
      val counts = tri.select(col("u").as("node"))
        .union(tri.select(col("x").as("node")))
        .union(tri.select(col("y").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      nodes.join(counts, Seq("node"), "left")
        .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
    }
  }

  /** Local clustering coefficient per node of the undirected simple
    * graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), where T(v) counts
    * triangles through v ([[trianglesPerNode]]) and deg(v) counts
    * DISTINCT neighbors; nodes with deg < 2 score 0 (no wedge to
    * close). The community-density report read next to raw triangle
    * counts: a hub with low cc is a broker bridging otherwise-separate
    * groups, a clique member scores 1.
    *
    * Determinism: T and deg are exact integers whose double casts are
    * exact, so the one division is a single correctly-rounded IEEE op,
    * pre-rounded to 6 dp identically on both engines. Scale shape:
    * rides trianglesPerNode's degree-oriented wedge join (work ∝
    * oriented wedges, never the deg² of a celebrity node) plus one
    * degree aggregate ∝ edges and a node-keyed equi-join. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Checkpoints.scope {
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // SMALL-GRAPH FAST PATH — see GraphLocal
    val local = LocalProbe.collectBounded(und, GraphLocal.maxEdges(und.sparkSession))
    if (local.isDefined) GraphLocal.clustering(edges.sparkSession, local.get)
    else {
      val deg = und.select(col("lo").as("node"))
        .union(und.select(col("hi").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.join(trianglesPerNode(und, "lo", "hi"), "node")
        .select(col("node"), col("deg"), col("n_tri"),
          when(col("deg") >= 2,
            Canon.rk(col("n_tri").cast("double") * 2.0
              / (col("deg").cast("double") * (col("deg") - 1).cast("double")), 6))
            .otherwise(0.0).as("local_cc"))
    }
  }

  /** Harmonic (closeness-family) centrality by bounded multi-source
    * min-plus propagation over the UNDIRECTED simple graph:
    * H(v) = Σ_{u≠v, d(u,v)≤maxHops} 1/d(u,v). Harmonic rather than
    * classic closeness because it is defined on disconnected graphs
    * (unreached pairs contribute 0, no 1/∞ special case) — the
    * standard recommendation (Boldi–Vigna) for exactly that reason.
    * Like [[bfsDistances]], the result is DEFINED at the hop budget:
    * it equals true harmonic centrality whenever the reachable
    * diameter ≤ maxHops (a spec proves budget-stationarity on the
    * fixture family).
    *
    * The label frame is SPARSE (origin, node, dist) — each round
    * unions the frontier's +1 candidates and re-minimizes, so labels
    * only ever cover reached pairs (∝ nodes × reachable ball, not
    * nodes²  on sparse graphs). Integer distances = no engine drift;
    * each 1/d grid-rounds to 6 dp before the exact decimal fold.
    * Scale shape: per round one labels⋈edges equi-join + one min
    * aggregate, labels re-pinned per round, superseded pins freed
    * (O(1) loop-carried plan, the [[pagerankMass]] posture). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int): DataFrame = Checkpoints.scope {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // SMALL-GRAPH FAST PATH — see GraphLocal
    val local = LocalProbe.collectBounded(und, GraphLocal.maxEdges(und.sparkSession))
    if (local.isDefined) GraphLocal.harmonic(edges.sparkSession, local.get, maxHops)
    else {
      val sym = Checkpoints.pin(
        und.select(col("lo").as("u"), col("hi").as("v"))
          .union(und.select(col("hi").as("u"), col("lo").as("v"))))
      val nodes = und.select(col("lo").as("node"))
        .union(und.select(col("hi").as("node"))).distinct()
      var lab = Checkpoints.pin(nodes
        .select(col("node").as("origin"), col("node"), lit(0L).as("dist")))
      for (_ <- 1 to maxHops) {
        val cand = sym.join(lab, col("u") === col("node"))
          .select(col("origin"), col("v").as("node"),
            (col("dist") + lit(1L)).as("dist"))
        val next = Checkpoints.pin(
          lab.select("origin", "node", "dist").union(cand)
            .groupBy("origin", "node").agg(min(col("dist")).as("dist")))
        Checkpoints.free(lab)
        lab = next
      }
      val contrib = Canon.rk(lit(1.0) / col("dist").cast("double"), 6)
        .cast(DecimalType(28, 6))
      val agg = lab.filter(col("origin") =!= col("node"))
        .groupBy("node").agg(count(lit(1)).as("n_reached"),
          Canon.r4(sum(contrib).cast("double")).as("harmonic"))
      // a node that reaches nobody inside the budget has only its self
      // label and would drop from the aggregate — keep it at zero
      nodes.join(agg, Seq("node"), "left")
        .select(col("node"), coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
    }
  }

  /** k-core membership by `rounds` rounds of parallel peeling over the
    * undirected simple graph: each round drops every node whose
    * surviving degree is < k, then restricts the edge set to surviving
    * endpoints. The k-core (maximal subgraph with min degree ≥ k) is
    * the peel's fixpoint; like [[bfsDistances]]' hop bound, the result
    * is DEFINED as the round-`rounds` peel state — it equals the true
    * k-core whenever peeling goes stationary within the budget, which
    * a spec proves on the fixture family (parallel peeling removes
    * every sub-k node of a round AT ONCE, so rounds needed = the
    * graph's peel DEPTH — ≤ a handful on real topologies — not its
    * node count).
    *
    * No convergence drift is possible between engines: labels are pure
    * integer degree counts, each round a deterministic function of the
    * edge set. Scale shape mirrors [[pagerankMass]]: per round one
    * degree hash aggregate + two semi-joins of the edge list against
    * the survivor set (broadcast by default; `broadcastKeep=false` =
    * the billion-node equi-shuffle posture), survivors re-pinned per
    * round with superseded pins freed (O(1) loop-carried plan).
    * Output: every node of the input graph with its final in-core
    * flag and surviving degree (0 when peeled). */
  def kcoreMembers(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, broadcastKeep: Boolean = true): DataFrame = Checkpoints.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    // SMALL-GRAPH FAST PATH — see GraphLocal
    val local = LocalProbe.collectBounded(und, GraphLocal.maxEdges(und.sparkSession))
    if (local.isDefined) GraphLocal.kcore(edges.sparkSession, local.get, k, rounds)
    else {
      val nodes = und.select(col("lo").as("node"))
        .union(und.select(col("hi").as("node"))).distinct()
      def pinKeep(m: DataFrame): DataFrame =
        if (broadcastKeep) broadcast(m) else m.hint("shuffle_hash")
      var sym = Checkpoints.pin(
        und.select(col("lo").as("u"), col("hi").as("v"))
          .union(und.select(col("hi").as("u"), col("lo").as("v"))))
      for (_ <- 1 to rounds) {
        // keep is PINNED before its two join references: the rename
        // projection on the second side defeats ReuseExchange, so an
        // unpinned keep would run the degree aggregate over the edge
        // list twice per round — at the billion-node shuffle posture
        // that doubles every round's dominant cost
        val keep = Checkpoints.pin(sym.groupBy("u")
          .agg(count(lit(1)).as("_d"))
          .filter(col("_d") >= k).select("u"))
        val next = Checkpoints.pin(sym
          .join(pinKeep(keep), "u")
          .join(pinKeep(keep.select(col("u").as("v"))), "v")
          .select("u", "v"))
        // every round of sym (the initial one included) is its own pin
        // whose lineage collapsed at checkpoint time — freeing it cannot
        // touch `und`, which `nodes` still reads (see pagerankMass)
        Checkpoints.free(sym)
        Checkpoints.free(keep)
        sym = next
      }
      val core = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("kcore_deg"))
      nodes.join(core, Seq("node"), "left")
        .select(col("node"),
          when(col("kcore_deg").isNotNull, 1L).otherwise(0L).as("in_kcore"),
          coalesce(col("kcore_deg"), lit(0L)).as("kcore_deg"))
    }
  }

  /** Synchronous WEIGHTED label propagation (community detection), the
    * Raghavan et al. 2007 LPA with edge-weight votes and a
    * deterministic tie rule: labels start as node ids; each round
    * every node adopts the label with the largest incident-weight sum
    * among its neighbors (ties → smallest label — LPA's random
    * tie-break would never hash-gate). Weights make round 1
    * non-degenerate under identity init (unweighted votes all tie at
    * the neighbor multiplicity and collapse to min-neighbor).
    *
    * Scale shape: the directed edge list folds to a pinned symmetric
    * (u, v, w) table once (one shuffle ∝ edges); each round is ONE
    * edge-sized join against the bounded (node, lbl) frame plus a
    * (node, lbl)-keyed vote aggregate — partial-aggregated map-side —
    * and the per-node argmax runs through the row_number→TopKPerGroup
    * rewrite (bounded heap, no per-node sort). Superseded label rounds
    * are freed like the pagerank/kcore loops; total state per round is
    * ∝ nodes, never ∝ edges. */
  /** Directed (src, dst, w) folded to the symmetric weighted adjacency
    * (u, v, w): both directions emitted, duplicate/reverse edges'
    * weights merged, self-loops dropped. One shuffle ∝ edges.
    *
    * INTEGER-weight contract (r18 ADVICE): `wCol` is cast to bigint, so
    * fractional weights TRUNCATE — deliberate, because every consumer
    * (LPA votes, modularity's e_c/a_c/W, weighted min-plus distances)
    * depends on EXACT bigint sums for cross-engine hash parity; a
    * double-summed adjacency would reintroduce merge-order float drift
    * into every downstream readout. Callers with fractional weights
    * must pre-scale to an integer grid (e.g. `round(w * 1e6)`) before
    * the fold — the Canon fixed-point convention. */
  def symmetricWeights(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String): DataFrame = edges
    .select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"), col(wCol).cast("long").as("_w"))
    .unionAll(edges.select(col(dstCol).cast("long").as("u"),
      col(srcCol).cast("long").as("v"), col(wCol).cast("long").as("_w")))
    .filter(col("u") =!= col("v"))
    .groupBy("u", "v").agg(sum(col("_w")).as("w"))

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, rounds: Int): DataFrame = Checkpoints.scope {
    labelPropagationOnSym(
      Checkpoints.pin(symmetricWeights(edges, srcCol, dstCol, wCol)), rounds)
  }

  /** [[labelPropagation]] over an already-pinned symmetric adjacency —
    * for callers that reuse one sym fold across LPA and a downstream
    * readout ([[modularityOnSym]]). */
  def labelPropagationOnSym(sym: DataFrame, rounds: Int): DataFrame = Checkpoints.scope {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // SMALL-GRAPH FAST PATH — sym is pinned, so the probe is a cheap
    // block read
    val local = LocalProbe.collectBounded(sym, GraphLocal.maxEdges(sym.sparkSession))
    if (local.isDefined) GraphLocal.lpa(sym.sparkSession, local.get, rounds)
    else {
      var labels = sym.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("votes").desc, col("lbl").asc)
      for (round <- 1 to rounds) {
        val next = Checkpoints.pin(sym
          .join(labels.select(col("node").as("v"), col("lbl")), "v")
          .groupBy(col("u").as("node"), col("lbl"))
          .agg(sum(col("w")).as("votes"))
          .withColumn("_rn", row_number().over(wv))
          .filter(col("_rn") <= 1)
          .select("node", "lbl"))
        // round 1's labels are not a pin: freeing them would free sym
        if (round > 1) Checkpoints.free(labels)
        labels = next
      }
      labels
    }
  }

  /** Newman modularity readout of a node partition over the weighted
    * undirected graph — the quality score for [[labelPropagation]]'s
    * communities: per community c, contrib_c = e_c/W − (a_c/W)² with
    * e_c = internal weight (both directions), a_c = Σ member degree
    * weight, W = total weight (2m convention); Q = Σ contrib. Every
    * sum is EXACT bigint over the symmetric adjacency; float enters
    * once per community readout (same-integer divisions in any
    * engine), and the per-community rows carry the exact integer
    * numerators so Q's provenance is auditable. Scale: one pinned
    * symmetric fold (its degree and internal-edge aggregates branch
    * off it), labels broadcast (bounded), state ∝ communities. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, labels: DataFrame, nodeCol: String = "node",
      lblCol: String = "lbl"): DataFrame = Checkpoints.scope {
    modularityOnSym(Checkpoints.pin(symmetricWeights(edges, srcCol, dstCol, wCol)),
      labels, nodeCol, lblCol)
  }

  /** [[modularity]] over an already-pinned symmetric adjacency. */
  def modularityOnSym(sym: DataFrame, labels: DataFrame,
      nodeCol: String = "node", lblCol: String = "lbl"): DataFrame = {
    val lab = labels.select(col(nodeCol).cast("long").as("_nd"),
      col(lblCol).cast("long").as("_lb"))
    // SMALL-GRAPH FAST PATH — both probes bounded; one-row-per-node is
    // the label contract, and a duplicated node would silently last-win
    // in the map where the distributed inner joins double-count — such
    // input falls through to the distributed readout so both postures
    // keep ONE semantics (r22, ADVICE r21)
    val budget = GraphLocal.maxEdges(sym.sparkSession)
    val localSym = LocalProbe.collectBounded(sym, budget)
    val pairs = localSym.flatMap(_ => LocalProbe.collectBounded(lab, budget))
      .map(_.map(r => r.getLong(0) -> r.getLong(1)))
    if (pairs.exists(p => p.map(_._1).distinct.length == p.length))
      GraphLocal.modularity(sym.sparkSession, localSym.get, pairs.get.toMap)
    else {
      val tot = sym.agg(sum(col("w")).as("_W"))
      val aC = sym.groupBy("u").agg(sum(col("w")).as("_k"))
        .join(broadcast(lab), col("u") === col("_nd"))
        .groupBy(col("_lb").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("_k")).as("a_deg"))
      val eC = sym
        .join(broadcast(lab.select(col("_nd").as("u"), col("_lb").as("_lu"))), "u")
        .join(broadcast(lab.select(col("_nd").as("v"), col("_lb").as("_lv"))), "v")
        .filter(col("_lu") === col("_lv"))
        .groupBy(col("_lu").as("community")).agg(sum(col("w")).as("e_in"))
      val wD = col("_W").cast("double")
      aC.join(eC, Seq("community"), "left")
        .crossJoin(broadcast(tot))
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("a_deg"),
          Canon.rk(coalesce(col("e_in"), lit(0L)).cast("double") / wD
            - (col("a_deg").cast("double") / wD)
              * (col("a_deg").cast("double") / wD), 6).as("contrib"))
    }
  }
}
