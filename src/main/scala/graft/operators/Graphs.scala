package graft.operators

import graft.{Canon, Q, Tables}
import graft.api.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.13 — graph analytics over a relational edge derivation: the
  * nation-level trade graph (supplier nation → customer nation, one
  * edge per above-average-volume trading pair). The heavy work is the
  * lineitem×supplier×orders×customer multiway join that BUILDS the
  * edges — Catalyst's territory (broadcast dims, shuffled fact) — and
  * the graph kernels ([[graft.api.GraphOps]]) then run on the
  * aggregated edge list: joins + hash aggregates only, the same code
  * path a web-scale link graph would take.
  *
  * The above-average cut (`w > avg(w)`) makes the graph's SHAPE
  * scale-free: absolute trade counts grow with sf, the relative
  * threshold keeps roughly the same sparsified topology, so the keys
  * discriminate (varying degrees, non-uniform ranks) at every scale.
  * The avg is exact in both engines: integer sum below 2^53 divided by
  * an integer count — one correctly-rounded double op each.
  */
object Graphs {

  /** Directed above-average trade edges: (src, dst, w) with w = the
    * lineitem count shipped from supplier-nation src to customer-nation
    * dst, self-loops excluded, kept iff w > corpus-average pair weight.
    * The threshold rides a 1-row aggregate broadcast (scalar BNLJ) —
    * the one shape where a broadcast nested loop is the right plan. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    // NOTE (r21): spreading the lineitem side across cores (Fanout)
    // before the broadcast-join chain was tried and benched at +0.4-0.6 s
    // per graph key — the repartition's shuffle+sort of 600k rows costs
    // more than the single-partition probe work it parallelizes. Left
    // on the straight scan deliberately.
    val all = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    // pinned: every key fans the edge list into several consumers
    // (degree out/in aggregates, pagerank's node/degree/edge frames) —
    // without the pin each branch would re-run the multiway join AND
    // the scalar-average cross (measured BroadcastHashJoin*13 /
    // HashAggregate*16 in graph_degree_stats' plan before the pin)
    graft.api.Checkpoints.pin(
      all.join(broadcast(all.agg(avg(col("w")).as("_avg"))))
        .filter(col("w") > col("_avg"))
        .select("src", "dst", "w"))
  }

  private def nationNames(s: SparkSession, d: String): DataFrame =
    broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name")))

  /** The graph_closeness_centrality pipeline at an arbitrary hop
    * budget — package-visible so GraphSpec can prove the declared
    * budget (4) is past the fixture graph's reachable diameter. */
  private[graft] def closenessAtHops(s: SparkSession, d: String,
      maxHops: Int): DataFrame =
    GraphOps.harmonicCentrality(tradeEdges(s, d), "src", "dst", maxHops)
      .join(nationNames(s, d), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("n_reached"), col("harmonic"))
      .orderBy("n_name")

  /** The graph_kcore pipeline at an arbitrary round budget —
    * package-visible so GraphSpec can prove the declared budget (6)
    * is past the fixture graph's peel depth (6 ≡ 9 rounds). */
  private[graft] def kcoreAtRounds(s: SparkSession, d: String,
      rounds: Int): DataFrame =
    GraphOps.kcoreMembers(tradeEdges(s, d), "src", "dst",
        k = 3, rounds = rounds)
      .join(nationNames(s, d), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("in_kcore"), col("kcore_deg"))
      .orderBy("n_name")

  /** The graph_weighted_paths pipeline at an arbitrary round budget —
    * package-visible so GraphSpec can prove the declared budget (6) is
    * past the fixture family's weighted diameter (6 ≡ 9; a dedicated
    * probe measured convergence after 4 rounds at sf0.001 and 2 at
    * sf0.01/0.1 — the denser graphs converge FASTER because direct
    * heavy edges exist between every pair). */
  private[graft] def weightedPathsAtRounds(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val e = tradeEdges(s, d)
    val src = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .agg(min(col("node")).as("node"))
    GraphOps.weightedDistances(e, "src", "dst", "w", src, rounds)
      .join(nationNames(s, d), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("dist"))
      .orderBy("n_name")
  }

  val queries: Map[String, Q] = Map(
    "graph_weighted_paths" -> ((s, d) => {
      // weighted shortest paths (r19): min-plus relaxation with the
      // trade counts as integer edge costs over the SYMMETRIC fold —
      // the cheapest trade route from the smallest node id to every
      // nation, where "cheap" rides low-volume links (the
      // Dijkstra-equivalent readout next to graph_bfs_distances' hop
      // counts; a min-plus label pass is how a relational engine runs
      // Bellman–Ford). 6 rounds ≫ the fixture family's weighted
      // diameter (GraphSpec proves 6 ≡ 9; measured convergence 4/2/2
      // rounds at the three scales); result DEFINED at the budget, so
      // the oracle unrolls the same 6 MATERIALIZED CTE rounds.
      weightedPathsAtRounds(s, d, rounds = 6)
    }),
    "graph_pagerank" -> ((s, d) => {
      // 4 damped iterations of fixed-point integer-mass PageRank — see
      // GraphOps.pagerankMass for why bigint mass (not double ranks) is
      // what makes an ITERATED rank oracle-checkable at all
      GraphOps.pagerankMass(tradeEdges(s, d), "src", "dst", iters = 4)
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("mass").as("pr_mass"),
          Canon.rk(col("mass") / 1000000000000.0, 8).as("pr"))
        .orderBy("n_name")
    }),
    "graph_bfs_distances" -> ((s, d) => {
      // hop distances from the graph's smallest node id (data-derived
      // source — deterministic at every sf), 4 min-plus rounds;
      // unreached nations emit -1
      val e = tradeEdges(s, d)
      val src = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .agg(min(col("node")).as("node"))
      GraphOps.bfsDistances(e, "src", "dst", src, maxHops = 4)
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("dist"))
        .orderBy("n_name")
    }),
    "graph_degree_stats" -> ((s, d) => {
      GraphOps.degreeStats(tradeEdges(s, d), "src", "dst", "w")
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("out_deg"), col("in_deg"),
          col("out_w"), col("in_w"))
        .orderBy("n_name")
    }),
    "graph_triangle_count" -> ((s, d) => {
      GraphOps.trianglesPerNode(tradeEdges(s, d), "src", "dst")
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("n_tri"))
        .orderBy("n_name")
    }),
    "graph_link_predict" -> ((s, d) => {
      // common-neighbor / Jaccard / Adamic–Adar link prediction over
      // the undirected trade graph — which nation pairs SHOULD be
      // trading (adjacent=0, high score) and how redundant existing
      // edges are (adjacent=1). See GraphOps.linkPredict for why the
      // Adamic–Adar sum runs on the 6 dp decimal grid
      GraphOps.linkPredict(tradeEdges(s, d), "src", "dst")
        .join(nationNames(s, d).select(col("n_nationkey").as("_ka"),
          col("n_name").as("a_name")), col("a") === col("_ka"))
        .join(nationNames(s, d).select(col("n_nationkey").as("_kb"),
          col("n_name").as("b_name")), col("b") === col("_kb"))
        .select(col("a_name"), col("b_name"), col("cn"),
          Canon.rk(col("jaccard"), 6).as("jaccard"),
          col("adamic_adar"), col("adjacent"))
        .orderBy("a_name", "b_name")
    }),
    "graph_connected_components" -> ((s, d) => {
      // trading blocs: connected components of the HIGH-traffic
      // subgraph (edges ≥ 1.2× the thresholded graph's mean weight)
      // over all 25 nations. Reuses the dedup CC engine — driver
      // union-find below the edge budget, pointer-halving label
      // propagation with per-round convergence proof above it — on a
      // declared graph key; isolated nations label themselves
      // (singleton blocs), so the output always covers every nation.
      // The 25-row labeled frame fans into the size rollup AND the
      // output join — pinned (§7.2 fan-out trap: unpinned, each
      // consumer re-runs the whole CC + multiway edge join).
      val e = tradeEdges(s, d)
      val strong = e.join(broadcast(e.agg(avg(col("w")).as("_a"))))
        .filter(col("w") >= col("_a") * 1.2)
        .select(col("src").as("id1"), col("dst").as("id2"))
      val labels = graft.api.Dedup.connectedComponents(strong)
      val full = graft.api.Checkpoints.pin(
        Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
          .join(labels.select(col("id"), col("label")),
            col("n_nationkey") === col("id"), "left")
          .select(col("n_name"),
            coalesce(col("label"), col("n_nationkey")).as("component")))
      val sizes = full.groupBy("component").agg(count(lit(1)).as("comp_size"))
      full.join(broadcast(sizes), "component")
        .select(col("n_name"), col("component"), col("comp_size"))
        .orderBy("n_name")
    }),
    "graph_clustering_coefficient" -> ((s, d) => {
      // per-nation local clustering coefficient over the undirected
      // trade graph — the density report next to graph_triangle_count:
      // 2·T(v)/(deg·(deg−1)), exact-integer numerator/denominator,
      // one rounded division (GraphOps.clusteringCoefficient)
      GraphOps.clusteringCoefficient(tradeEdges(s, d), "src", "dst")
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("deg"), col("n_tri"), col("local_cc"))
        .orderBy("n_name")
    }),
    "graph_closeness_centrality" -> ((s, d) => {
      // harmonic centrality H(v) = Σ 1/d(u,v) within 4 hops over the
      // undirected trade graph — the "how central is this nation to
      // the whole trading system" rank next to graph_pagerank's
      // link-mass view; harmonic (not classic closeness) because it
      // is defined on disconnected graphs. Budget-stationary on the
      // fixture (GraphSpec: 4 ≡ 6 hops); multi-source min-plus labels,
      // oracle = 4 unrolled MATERIALIZED label CTEs
      closenessAtHops(s, d, maxHops = 4)
    }),
    "graph_kcore" -> ((s, d) => {
      // the cohesive trading core: 3-core membership + surviving
      // degree after 6 rounds of parallel peeling over the undirected
      // trade graph — the subgraph report (who is structurally
      // embedded vs hanging off the periphery) next to
      // graph_clustering_coefficient. 6 rounds ≫ the graph's peel
      // depth (GraphSpec proves rounds 6 ≡ 9 on the fixture family);
      // oracle = the same 6 peels as unrolled MATERIALIZED CTEs
      kcoreAtRounds(s, d, rounds = 6)
    }),
    "graph_label_propagation" -> ((s, d) => {
      // community detection by two synchronous rounds of WEIGHTED
      // label propagation (r18): labels start as node ids, each round
      // every nation adopts the label carrying the largest
      // incident-trade-weight sum among its neighbors (ties → smallest
      // label — LPA's usual random tie-break would never hash-gate).
      // The community structure the trade graph's density keys
      // (kcore, clustering) describe, read out as an actual partition.
      // All-integer arithmetic (weights are lineitem counts), so the
      // oracle unrolls the same two rounds as MATERIALIZED CTEs.
      GraphOps.labelPropagation(tradeEdges(s, d), "src", "dst", "w",
          rounds = 2)
        .join(nationNames(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("lbl").as("community"))
        .orderBy("n_name")
    }),
    "graph_modularity" -> ((s, d) => {
      // Newman modularity of the LPA partition (r18) — the quality
      // score for graph_label_propagation's communities: per community
      // the internal-weight share minus the degree-share squared
      // (contrib = e_c/W − (a_c/W)², Q = Σ contrib), with the exact
      // integer numerators (e_in, a_deg) alongside so the readout is
      // auditable. All sums exact bigint over the symmetric adjacency;
      // float enters once per community row; oracle unrolls the same
      // two LPA rounds then spells the same divisions.
      // ONE symmetric fold shared by the LPA rounds and the modularity
      // readout (building it twice would double the dominant edge-fold
      // cost)
      val sym = graft.api.Checkpoints.pin(GraphOps.symmetricWeights(
        tradeEdges(s, d), "src", "dst", "w"))
      val labels = GraphOps.labelPropagationOnSym(sym, rounds = 2)
      GraphOps.modularityOnSym(sym, labels)
        .orderBy("community")
    }),
    "graph_assortativity" -> ((s, d) => {
      // degree assortativity: Pearson correlation between endpoint
      // degrees over the symmetrized trade edges — do high-traffic
      // hubs trade with hubs (assortative, r>0) or with the periphery
      // (disassortative, r<0)? Every moment (Σx, Σx², Σxy, n) is an
      // EXACT bigint sum over the edge list; float enters once in the
      // closed form (degrees ≤ 25 nodes' worth — products nowhere
      // near 2^53). sym fans into the degree aggregate AND the edge
      // join — pinned (§7.2 fan-out trap).
      val e = tradeEdges(s, d)
      val sym = graft.api.Checkpoints.pin(
        e.select(col("src").as("a"), col("dst").as("b"))
          .union(e.select(col("dst").as("a"), col("src").as("b"))))
      val deg = sym.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
      val xy = sym
        .join(broadcast(deg.select(col("node").as("a"), col("deg").as("_x"))), "a")
        .join(broadcast(deg.select(col("node").as("b"), col("deg").as("_y"))), "b")
      val m = xy.agg(count(lit(1)).as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_x") * col("_x")).as("_qx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      // symmetrized edges make the x and y marginals identical, so
      // Σy/Σy² reuse Σx/Σx² — one aggregate, half the sums
      val num = col("_n").cast("double") * col("_sxy") -
        (col("_sx") * col("_sx")).cast("double")
      val den = col("_n").cast("double") * col("_qx") -
        (col("_sx") * col("_sx")).cast("double")
      m.select(expr("_n div 2").as("n_edges"),
          when(den =!= 0.0, Canon.rk(num / den, 6))
            .otherwise(0.0).as("assortativity"))
    })
  )

  /** Shared oracle CTE prologue: the directed thresholded edge list.
    * MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs per
    * reference, and the pagerank oracle's chained iteration CTEs would
    * re-expand the whole multiway join tree exponentially (measured:
    * the inlined form spilled the machine's disk at sf0.1; the
    * materialized form runs in seconds). */
  private val edgesCte =
    """rawe AS MATERIALIZED (
      |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |  GROUP BY 1, 2),
      |dedges AS MATERIALIZED (
      |  SELECT src, dst, w FROM rawe
      |  WHERE w > (SELECT avg(w) FROM rawe))""".stripMargin

  /** One unrolled fixed-point PageRank round: `cur` from `prev`. The
    * arithmetic mirrors GraphOps.pagerankMass token for token —
    * ((mass*85) // 100) // outdeg per edge, bigint-exact sums, plus
    * the integer teleport share. */
  private def prRound(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT nd.node,
       |  CAST((SELECT tele FROM consts) + COALESCE(s.inm, 0) AS BIGINT) AS mass
       |  FROM nodes nd LEFT JOIN (
       |    SELECT e.dst AS node, sum(((m.mass * 85) // 100) // e.outdeg) AS inm
       |    FROM edeg e JOIN $prev m ON e.src = m.node GROUP BY 1) s
       |  ON nd.node = s.node)""".stripMargin

  /** One unrolled parallel-peel round for the k=3 core: survivors of
    * `prev` are nodes with ≥3 surviving neighbors; `cur` is `prev`
    * restricted to surviving endpoints. Mirrors GraphOps.kcoreMembers
    * round-for-round (pure integer degree counts — no drift). */
  private def kcoreRound(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT s.u, s.v FROM $prev s
       |  JOIN (SELECT u FROM $prev GROUP BY u HAVING count(*) >= 3) ka
       |    ON s.u = ka.u
       |  JOIN (SELECT u FROM $prev GROUP BY u HAVING count(*) >= 3) kb
       |    ON s.v = kb.u)""".stripMargin

  /** One unrolled multi-source min-plus round: previous labels union
    * their edge-pushed +1 candidates, re-minimized. Mirrors
    * GraphOps.harmonicCentrality round-for-round (integer labels). */
  private def closeRound(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT origin, node,
       |  CAST(min(dist) AS BIGINT) AS dist FROM (
       |    SELECT origin, node, dist FROM $prev
       |    UNION ALL
       |    SELECT l.origin, e.v AS node, l.dist + 1 AS dist
       |    FROM $prev l JOIN symE e ON l.node = e.u)
       |  GROUP BY 1, 2)""".stripMargin

  /** One unrolled synchronous weighted-LPA round: `cur` labels from
    * `prev` — vote = Σ symmetric edge weight per (node, neighbor
    * label), argmax with the smallest-label tie rule (mirrors
    * GraphOps.labelPropagation). */
  private def lpaRound(prev: String, cur: String): String =
    s"""v$cur AS MATERIALIZED (SELECT s.u AS node, l.lbl,
       |    CAST(sum(s.w) AS BIGINT) AS votes
       |  FROM sym s JOIN $prev l ON s.v = l.node GROUP BY 1, 2),
       |$cur AS MATERIALIZED (SELECT node, lbl FROM (
       |    SELECT node, lbl, row_number() OVER (
       |      PARTITION BY node ORDER BY votes DESC, lbl ASC) AS rn
       |    FROM v$cur) WHERE rn = 1)""".stripMargin

  /** One unrolled weighted min-plus round: previous labels kept, the
    * edge-pushed dist+w candidates re-minimized — mirrors
    * GraphOps.weightedDistances round-for-round (pure bigint labels;
    * least() skips NULLs identically in both engines). */
  private def wpathRound(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT nd.node,
       |  least(p.dist, s.nd) AS dist
       |  FROM wnodes nd
       |  JOIN $prev p ON nd.node = p.node
       |  LEFT JOIN (
       |    SELECT e.v AS node, CAST(min(m.dist + e.w) AS BIGINT) AS nd
       |    FROM wsym e JOIN $prev m ON e.u = m.node
       |    WHERE m.dist IS NOT NULL GROUP BY 1) s
       |  ON nd.node = s.node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_weighted_paths" ->
      s"""WITH $edgesCte,
         |wsym AS MATERIALIZED (SELECT u, v, CAST(sum(w) AS BIGINT) AS w
         |  FROM (SELECT src AS u, dst AS v, w FROM dedges
         |        UNION ALL SELECT dst, src, w FROM dedges)
         |  WHERE u <> v GROUP BY 1, 2),
         |wnodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM wsym),
         |w0 AS MATERIALIZED (SELECT node,
         |  CASE WHEN node = (SELECT min(node) FROM wnodes)
         |       THEN CAST(0 AS BIGINT) END AS dist FROM wnodes),
         |${wpathRound("w0", "w1")},
         |${wpathRound("w1", "w2")},
         |${wpathRound("w2", "w3")},
         |${wpathRound("w3", "w4")},
         |${wpathRound("w4", "w5")},
         |${wpathRound("w5", "w6")}
         |SELECT n.n_name, CAST(COALESCE(p.dist, -1) AS BIGINT) AS dist
         |FROM w6 p JOIN nation n ON p.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_label_propagation" ->
      s"""WITH $edgesCte,
         |sym AS MATERIALIZED (SELECT u, v, CAST(sum(w) AS BIGINT) AS w
         |  FROM (SELECT src AS u, dst AS v, w FROM dedges
         |        UNION ALL SELECT dst, src, w FROM dedges)
         |  WHERE u <> v GROUP BY 1, 2),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node,
         |  CAST(u AS BIGINT) AS lbl FROM sym),
         |${lpaRound("l0", "l1")},
         |${lpaRound("l1", "l2")}
         |SELECT n.n_name, l2.lbl AS community
         |FROM l2 JOIN nation n ON l2.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_modularity" ->
      s"""WITH $edgesCte,
         |sym AS MATERIALIZED (SELECT u, v, CAST(sum(w) AS BIGINT) AS w
         |  FROM (SELECT src AS u, dst AS v, w FROM dedges
         |        UNION ALL SELECT dst, src, w FROM dedges)
         |  WHERE u <> v GROUP BY 1, 2),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node,
         |  CAST(u AS BIGINT) AS lbl FROM sym),
         |${lpaRound("l0", "l1")},
         |${lpaRound("l1", "l2")},
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM sym),
         |dg AS (SELECT u, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY 1),
         |ac AS (SELECT l.lbl AS community, count(*) AS n_nodes,
         |    CAST(sum(dg.k) AS BIGINT) AS a_deg
         |  FROM dg JOIN l2 l ON dg.u = l.node GROUP BY 1),
         |ec AS (SELECT lu.lbl AS community, CAST(sum(s.w) AS BIGINT) AS e_in
         |  FROM sym s JOIN l2 lu ON s.u = lu.node JOIN l2 lv ON s.v = lv.node
         |  WHERE lu.lbl = lv.lbl GROUP BY 1)
         |SELECT ac.community, CAST(ac.n_nodes AS BIGINT) AS n_nodes,
         |  coalesce(ec.e_in, 0) AS e_in, ac.a_deg,
         |  ${Canon.sql.rk("coalesce(ec.e_in, 0) / CAST(t.tw AS DOUBLE) - (ac.a_deg / CAST(t.tw AS DOUBLE)) * (ac.a_deg / CAST(t.tw AS DOUBLE))", 6)} AS contrib
         |FROM ac LEFT JOIN ec USING (community) CROSS JOIN tot t
         |ORDER BY community""".stripMargin,
    "graph_closeness_centrality" ->
      s"""WITH $edgesCte,
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo,
         |    greatest(src, dst) AS hi FROM dedges WHERE src <> dst),
         |nodes AS MATERIALIZED (SELECT lo AS node FROM und UNION SELECT hi FROM und),
         |symE AS MATERIALIZED (SELECT lo AS u, hi AS v FROM und
         |  UNION ALL SELECT hi, lo FROM und),
         |l0 AS MATERIALIZED (SELECT node AS origin, node,
         |  CAST(0 AS BIGINT) AS dist FROM nodes),
         |${closeRound("l0", "l1")},
         |${closeRound("l1", "l2")},
         |${closeRound("l2", "l3")},
         |${closeRound("l3", "l4")},
         |h AS (SELECT node, count(*) AS n_reached,
         |    ${Canon.sql.r4(s"CAST(sum(CAST(${Canon.sql.rk("1.0 / CAST(dist AS DOUBLE)", 6)} AS DECIMAL(28,6))) AS DOUBLE)")} AS harmonic
         |  FROM l4 WHERE origin <> node GROUP BY 1)
         |SELECT n.n_name,
         |  CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
         |  COALESCE(h.harmonic, 0.0) AS harmonic
         |FROM nodes u
         |LEFT JOIN h ON u.node = h.node
         |JOIN nation n ON u.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_kcore" ->
      s"""WITH $edgesCte,
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo,
         |    greatest(src, dst) AS hi FROM dedges WHERE src <> dst),
         |nodes AS MATERIALIZED (SELECT lo AS node FROM und UNION SELECT hi FROM und),
         |sym0 AS MATERIALIZED (SELECT lo AS u, hi AS v FROM und
         |  UNION ALL SELECT hi, lo FROM und),
         |${kcoreRound("sym0", "sym1")},
         |${kcoreRound("sym1", "sym2")},
         |${kcoreRound("sym2", "sym3")},
         |${kcoreRound("sym3", "sym4")},
         |${kcoreRound("sym4", "sym5")},
         |${kcoreRound("sym5", "sym6")},
         |core AS (SELECT u AS node, count(*) AS kcore_deg
         |  FROM sym6 GROUP BY 1)
         |SELECT n.n_name,
         |  CAST(CASE WHEN c.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_kcore,
         |  CAST(COALESCE(c.kcore_deg, 0) AS BIGINT) AS kcore_deg
         |FROM nodes u
         |LEFT JOIN core c ON u.node = c.node
         |JOIN nation n ON u.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_pagerank" ->
      s"""WITH $edgesCte,
         |nodes AS MATERIALIZED (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges),
         |consts AS MATERIALIZED (SELECT 1000000000000 // count(*) AS m0,
         |                  150000000000 // count(*) AS tele FROM nodes),
         |edeg AS MATERIALIZED (SELECT d.src, d.dst, g.outdeg FROM dedges d
         |  JOIN (SELECT src, count(*) AS outdeg FROM dedges GROUP BY 1) g
         |  ON d.src = g.src),
         |mass0 AS MATERIALIZED (SELECT node, CAST((SELECT m0 FROM consts) AS BIGINT) AS mass FROM nodes),
         |${prRound("mass0", "mass1")},
         |${prRound("mass1", "mass2")},
         |${prRound("mass2", "mass3")},
         |${prRound("mass3", "mass4")}
         |SELECT n.n_name, m.mass AS pr_mass,
         |  ${Canon.sql.rk("m.mass / 1000000000000.0", 8)} AS pr
         |FROM mass4 m JOIN nation n ON m.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_bfs_distances" ->
      s"""WITH $edgesCte,
         |nodes AS MATERIALIZED (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges),
         |d0 AS MATERIALIZED (SELECT node,
         |  CASE WHEN node = (SELECT min(node) FROM nodes)
         |       THEN CAST(0 AS BIGINT) END AS dist FROM nodes),
         |d1 AS MATERIALIZED (SELECT nd.node,
         |  least(p.dist, s.nd) AS dist
         |  FROM nodes nd
         |  JOIN d0 p ON nd.node = p.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, min(m.dist + 1) AS nd
         |    FROM dedges e JOIN d0 m ON e.src = m.node
         |    WHERE m.dist IS NOT NULL GROUP BY 1) s
         |  ON nd.node = s.node),
         |d2 AS MATERIALIZED (SELECT nd.node,
         |  least(p.dist, s.nd) AS dist
         |  FROM nodes nd
         |  JOIN d1 p ON nd.node = p.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, min(m.dist + 1) AS nd
         |    FROM dedges e JOIN d1 m ON e.src = m.node
         |    WHERE m.dist IS NOT NULL GROUP BY 1) s
         |  ON nd.node = s.node),
         |d3 AS MATERIALIZED (SELECT nd.node,
         |  least(p.dist, s.nd) AS dist
         |  FROM nodes nd
         |  JOIN d2 p ON nd.node = p.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, min(m.dist + 1) AS nd
         |    FROM dedges e JOIN d2 m ON e.src = m.node
         |    WHERE m.dist IS NOT NULL GROUP BY 1) s
         |  ON nd.node = s.node),
         |d4 AS MATERIALIZED (SELECT nd.node,
         |  least(p.dist, s.nd) AS dist
         |  FROM nodes nd
         |  JOIN d3 p ON nd.node = p.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, min(m.dist + 1) AS nd
         |    FROM dedges e JOIN d3 m ON e.src = m.node
         |    WHERE m.dist IS NOT NULL GROUP BY 1) s
         |  ON nd.node = s.node)
         |SELECT n.n_name, CAST(COALESCE(p.dist, -1) AS BIGINT) AS dist
         |FROM d4 p JOIN nation n ON p.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_degree_stats" ->
      s"""WITH $edgesCte,
         |outs AS (SELECT src AS node, count(*) AS out_deg,
         |                CAST(sum(w) AS BIGINT) AS out_w FROM dedges GROUP BY 1),
         |ins AS (SELECT dst AS node, count(*) AS in_deg,
         |               CAST(sum(w) AS BIGINT) AS in_w FROM dedges GROUP BY 1),
         |nodes AS (SELECT node FROM outs UNION SELECT node FROM ins)
         |SELECT n.n_name,
         |  COALESCE(o.out_deg, 0) AS out_deg, COALESCE(i.in_deg, 0) AS in_deg,
         |  COALESCE(o.out_w, 0) AS out_w, COALESCE(i.in_w, 0) AS in_w
         |FROM nodes u
         |LEFT JOIN outs o ON u.node = o.node
         |LEFT JOIN ins i ON u.node = i.node
         |JOIN nation n ON u.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_link_predict" ->
      s"""WITH $edgesCte,
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
         |        FROM dedges),
         |nbr AS MATERIALIZED (SELECT lo AS u, hi AS v FROM und
         |        UNION ALL SELECT hi, lo FROM und),
         |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM nbr GROUP BY 1),
         |pairs AS (SELECT n1.u AS a, n2.u AS b, n1.v AS w
         |          FROM nbr n1 JOIN nbr n2 ON n1.v = n2.v AND n1.u < n2.u),
         |agg AS (SELECT a, b, count(*) AS cn,
         |          CAST(sum(CAST(${Canon.sql.rk("1.0/ln(dw.d)", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS adamic_adar
         |        FROM pairs p JOIN deg dw ON p.w = dw.u GROUP BY 1, 2)
         |SELECT na.n_name AS a_name, nb.n_name AS b_name, g.cn,
         |  ${Canon.sql.rk("CAST(g.cn AS DOUBLE) / (da.d + db.d - g.cn)", 6)} AS jaccard,
         |  g.adamic_adar,
         |  CAST(CASE WHEN e.lo IS NULL THEN 0 ELSE 1 END AS BIGINT) AS adjacent
         |FROM agg g
         |JOIN deg da ON g.a = da.u
         |JOIN deg db ON g.b = db.u
         |LEFT JOIN und e ON e.lo = g.a AND e.hi = g.b
         |JOIN nation na ON g.a = na.n_nationkey
         |JOIN nation nb ON g.b = nb.n_nationkey
         |ORDER BY a_name, b_name""".stripMargin,
    "graph_triangle_count" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
         |        FROM dedges),
         |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
         |        FROM und e1
         |        JOIN und e2 ON e1.hi = e2.lo
         |        JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         |pern AS (SELECT node, count(*) AS n_tri FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY 1),
         |nodes AS (SELECT lo AS node FROM und UNION SELECT hi FROM und)
         |SELECT n.n_name, COALESCE(p.n_tri, 0) AS n_tri
         |FROM nodes u
         |LEFT JOIN pern p ON u.node = p.node
         |JOIN nation n ON u.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    // the oracle computes TRUE converged components via a recursive
    // transitive closure (min reachable node over the symmetrized
    // strong-edge graph) — 25 nodes, so recursion is trivially bounded
    "graph_connected_components" ->
      s"""WITH RECURSIVE $edgesCte,
         |strong AS MATERIALIZED (SELECT src, dst FROM dedges
         |  WHERE w >= (SELECT avg(w) FROM dedges) * 1.2),
         |sym AS MATERIALIZED (SELECT src, dst FROM strong
         |  UNION SELECT dst, src FROM strong),
         |reach(node, r) AS (SELECT n_nationkey, n_nationkey FROM nation
         |  UNION SELECT re.node, e.dst FROM reach re JOIN sym e ON e.src = re.r),
         |comp AS MATERIALIZED (SELECT node, min(r) AS component
         |  FROM reach GROUP BY 1),
         |sz AS (SELECT component, count(*) AS comp_size FROM comp GROUP BY 1)
         |SELECT n.n_name, c.component, s.comp_size
         |FROM nation n JOIN comp c ON n.n_nationkey = c.node
         |JOIN sz s USING (component)
         |ORDER BY n_name""".stripMargin,
    // tri enumeration identical to graph_triangle_count's (each
    // triangle once via a<b<c); deg = distinct undirected neighbors
    "graph_clustering_coefficient" ->
      s"""WITH $edgesCte,
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
         |        FROM dedges),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |    SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
         |  GROUP BY 1),
         |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
         |        FROM und e1
         |        JOIN und e2 ON e1.hi = e2.lo
         |        JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         |pern AS (SELECT node, count(*) AS n_tri FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY 1)
         |SELECT n.n_name, d.deg, COALESCE(p.n_tri, 0) AS n_tri,
         |  CASE WHEN d.deg >= 2
         |    THEN ${Canon.sql.rk("CAST(COALESCE(p.n_tri, 0) AS DOUBLE) * 2.0 / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))", 6)}
         |    ELSE 0.0 END AS local_cc
         |FROM deg d
         |LEFT JOIN pern p ON d.node = p.node
         |JOIN nation n ON d.node = n.n_nationkey
         |ORDER BY n_name""".stripMargin,
    "graph_assortativity" ->
      s"""WITH $edgesCte,
         |sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM dedges
         |  UNION ALL SELECT dst, src FROM dedges),
         |deg AS MATERIALIZED (SELECT a AS node, count(*) AS deg
         |  FROM sym GROUP BY 1),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y FROM sym
         |  JOIN deg dx ON sym.a = dx.node
         |  JOIN deg dy ON sym.b = dy.node),
         |m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x*x) AS BIGINT) AS qx,
         |    CAST(sum(x*y) AS BIGINT) AS sxy FROM xy)
         |SELECT n // 2 AS n_edges,
         |  CASE WHEN (CAST(n AS DOUBLE) * qx - CAST(sx*sx AS DOUBLE)) <> 0
         |    THEN ${Canon.sql.rk("(CAST(n AS DOUBLE) * sxy - CAST(sx*sx AS DOUBLE)) / (CAST(n AS DOUBLE) * qx - CAST(sx*sx AS DOUBLE))", 6)}
         |    ELSE 0.0 END AS assortativity
         |FROM m""".stripMargin
  )
}
