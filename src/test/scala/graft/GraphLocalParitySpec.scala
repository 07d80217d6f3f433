package graft

import graft.api.GraphOps
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** r21 optimization: every GraphOps kernel gained a small-graph driver
  * fast path (GraphLocal, the connectedComponents decide-and-deliver
  * pattern). This spec is the bit-parity gate: for EACH kernel, the
  * default path (local, below the edge budget) and the distributed
  * loop (`spark.graft.graph.localEdgeThreshold=0`) must return the
  * same rows, same column names, same types — the fast path may never
  * change an answer, only skip per-round job latency. The test graph
  * is sized to exercise the Canon 6-dp grid rounds (harmonic 1/3
  * terms, Adamic–Adar 1/ln(d) sums) and the LPA/kcore tie rules. */
class GraphLocalParitySpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val key = "spark.graft.graph.localEdgeThreshold"

  // deterministic pseudo-random multigraph-ish edge set with a hub,
  // parallel/reverse duplicates, and integer weights 1..13
  private val es: Seq[(Long, Long, Long)] = {
    val base = (1L to 60L).map { i =>
      ((i * 7L) % 23L, (i * 13L + 3L) % 23L, (i % 13L) + 1L)
    } ++ (1L to 10L).map(i => (0L, i, i + 2L)) // hub 0
    base.filter { case (a, b, _) => a != b }
  }

  private def edges: DataFrame = {
    val s = spark; import s.implicits._
    es.toDF("src", "dst", "w")
  }

  /** Run `f` on both paths and assert identical (schema + row multiset),
    * and that each path leaves no pinned RDD behind once its result is
    * collected and `Checkpoints.free`d. */
  private def assertParity(name: String)(f: => DataFrame): Unit = {
    def run(path: String): (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val d = f
      val rows = d.collect().toSeq
      graft.api.Checkpoints.free(d)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name ($path path) leaves pinned RDDs after free: $left")
      (rows, d.schema)
    }
    assert(spark.conf.get(key, "2000000").toLong > 0,
      "parity harness expects the default (local) posture outside withLoop")
    val (localRows, localSchema) = run("local")
    spark.conf.set(key, "0")
    val (loopRows, loopSchema) =
      try run("loop")
      finally spark.conf.unset(key)
    // names + types must match; NULLABILITY may differ (a LocalRelation
    // from driver tuples is non-nullable where a join's coalesce output
    // is nullable) — nullability never changes values or downstream plans
    assert(localSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
      loopSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$name: schema diverged local=$localSchema loop=$loopSchema")
    assert(localRows.sortBy(_.toString) == loopRows.sortBy(_.toString),
      s"$name: rows diverged\nlocal=${localRows.sortBy(_.toString)}\nloop=${loopRows.sortBy(_.toString)}")
    assert(localRows.nonEmpty, s"$name: parity on an empty result proves nothing")
  }

  test("pagerankMass local == loop") {
    assertParity("pagerank")(
      GraphOps.pagerankMass(edges, "src", "dst", iters = 4))
  }

  test("bfsDistances local == loop") {
    val s = spark; import s.implicits._
    assertParity("bfs")(GraphOps.bfsDistances(edges, "src", "dst",
      Seq(0L).toDF("node"), maxHops = 4))
  }

  test("weightedDistances local == loop") {
    val s = spark; import s.implicits._
    assertParity("weighted")(GraphOps.weightedDistances(edges, "src", "dst",
      "w", Seq(0L).toDF("node"), rounds = 5))
  }

  test("harmonicCentrality local == loop") {
    assertParity("harmonic")(
      GraphOps.harmonicCentrality(edges, "src", "dst", maxHops = 3))
  }

  test("kcoreMembers local == loop") {
    assertParity("kcore")(
      GraphOps.kcoreMembers(edges, "src", "dst", k = 3, rounds = 5))
  }

  test("labelPropagation local == loop") {
    assertParity("lpa")(
      GraphOps.labelPropagation(edges, "src", "dst", "w", rounds = 2))
  }

  test("trianglesPerNode local == loop") {
    assertParity("triangles")(
      GraphOps.trianglesPerNode(edges, "src", "dst"))
  }

  test("clusteringCoefficient local == loop") {
    assertParity("clustering")(
      GraphOps.clusteringCoefficient(edges, "src", "dst"))
  }

  test("linkPredict local == loop") {
    assertParity("linkPredict")(
      GraphOps.linkPredict(edges, "src", "dst"))
  }

  test("degreeStats local == loop (long-cast node ids)") {
    assertParity("degreeStats")(
      GraphOps.degreeStats(edges, "src", "dst", "w"))
  }

  test("modularity local == loop") {
    val s = spark; import s.implicits._
    val labels = (0L to 22L).map(n => (n, n % 3L)).toDF("node", "lbl")
    assertParity("modularity")(
      GraphOps.modularity(edges, "src", "dst", "w", labels))
  }

  test("degreeStats int-id graph: both postures emit long node ids (r22)") {
    val s = spark; import s.implicits._
    val intEdges = es.map { case (a, b, w) => (a.toInt, b.toInt, w.toInt) }
      .toDF("src", "dst", "w")
    assertParity("degreeStats-int")(
      GraphOps.degreeStats(intEdges, "src", "dst", "w"))
    // and the schema is the long one regardless of posture
    val out = GraphOps.degreeStats(intEdges, "src", "dst", "w")
    assert(out.schema("node").dataType ==
      org.apache.spark.sql.types.LongType, s"schema=${out.schema}")
  }

  test("pagerank on an empty edge set: both postures refuse identically (r22)") {
    // the distributed loop requires a non-empty edge set (teleport
    // needs n > 0); the fast path must present the SAME contract, not
    // silently return an empty frame where the loop throws
    val s = spark; import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val eLocal = intercept[IllegalArgumentException] {
      GraphOps.pagerankMass(none, "src", "dst", iters = 3).collect()
    }
    spark.conf.set(key, "0")
    val eLoop =
      try intercept[IllegalArgumentException] {
        GraphOps.pagerankMass(none, "src", "dst", iters = 3).collect()
      } finally spark.conf.unset(key)
    assert(eLocal.getMessage == eLoop.getMessage,
      s"empty-input contract diverged: local='${eLocal.getMessage}' loop='${eLoop.getMessage}'")
  }

  test("modularity duplicate-label input falls through to ONE semantics (r22)") {
    val s = spark; import s.implicits._
    // node 0 listed twice with different labels — the map fast path
    // would last-win where the distributed joins double-count; the
    // fast path must detect the duplicate and take the loop so both
    // postures answer identically
    val labels = ((0L to 22L).map(n => (n, n % 3L)) :+ (0L, 2L))
      .toDF("node", "lbl")
    val dflt = GraphOps.modularity(edges, "src", "dst", "w", labels)
      .collect().sortBy(_.toString).toSeq
    spark.conf.set(key, "0")
    val loop =
      try GraphOps.modularity(edges, "src", "dst", "w", labels)
        .collect().sortBy(_.toString).toSeq
      finally spark.conf.unset(key)
    assert(dflt == loop,
      s"duplicate-label semantics diverged\ndefault=$dflt\nloop=$loop")
  }

  test("bfsDistances loop dedups duplicate sources (r20 ADVICE regression)") {
    val s = spark; import s.implicits._
    spark.conf.set(key, "0")
    try {
      val dup = GraphOps.bfsDistances(edges, "src", "dst",
        Seq(0L, 0L, 0L).toDF("node"), maxHops = 3).collect()
      assert(dup.map(_.getLong(0)).distinct.length == dup.length,
        s"duplicate sources duplicated dist rows: ${dup.toSeq}")
    } finally spark.conf.unset(key)
  }
}
