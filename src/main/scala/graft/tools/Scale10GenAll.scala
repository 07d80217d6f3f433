package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev-only: the FULL-surface 10× fixture for the scale-growth bench —
  * `runMain graft.tools.Scale10GenAll <sfDir> <outDir> [replicas]`
  * writes replica-salted copies of every table the scale-benched key
  * families read:
  *
  *  - `documents`: token-salted — replica k prefixes every token with
  *    r{k}x, doc_id += k·10⁹, and n_chars is recomputed on the salted
  *    text — so replicas share no vocabulary and no near-dup pairs:
  *    true pairs, candidates and clusters grow exactly `replicas`×
  *    (naive replication would make every replica of a doc match
  *    every replica of its duplicates). `replicas = 1` is the salted
  *    single-replica baseline the char-n-gram keys compare against.
  *  - `embeddings`: vec_id += k·10⁹; replica k's vectors are rotated
  *    by k positions and sign-flipped by a deterministic per-(k, dim)
  *    pattern — an orthogonal transform, so every replica's INTERNAL
  *    geometry (norms, dots, neighbor structure) is bit-preserved
  *    while replicas are mutually uncorrelated: true neighbor lists
  *    grow ~10× the way a 10× crawl's would. Replica 0 is identity, so
  *    the benched queries (vec_id < 10) probe the same vectors.
  *  - `lineitem/orders/customer/supplier` (the graph family's edge
  *    derivation): all foreign keys offset per replica (orderkey
  *    += k·10⁹, cust/supp/part keys += k·10⁶, nationkey += k·25) —
  *    the nation-level trade graph becomes `replicas` DISJOINT copies:
  *    10× nodes, 10× edges, 10× aggregation input, same diameter.
  *
  * Deterministic: pure column transforms + a fixed per-(k, i) sign
  * function; no randomness, no timestamps. */
object Scale10GenAll {
  private def signPattern(k: Int, dim: Int): Seq[Float] =
    (0 until dim).map { i =>
      // LCG-style bit mix - parity of a well-stirred product, NOT of
      // (i + k) (an alternating pattern would correlate replicas)
      val x = i.toLong * 1103515245L + k.toLong * 2654435761L + 12345L
      if (((x >> 16) & 1L) == 0L) 1.0f else -1.0f
    }

  private def transformEmb(emb: Column, k: Int, dim: Int = 64): Column =
    if (k == 0) emb
    else {
      val r = k % dim
      val rot = if (r == 0) emb
        else concat(slice(emb, r + 1, dim - r), slice(emb, lit(1), lit(r)))
      val signs = array(signPattern(k, dim).map(lit(_)): _*)
      zip_with(rot, signs, (a, b) => a * b)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val nReplicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession(32)
    val B = 1000000000L // big-key offset unit (orderkey, doc_id, vec_id)
    val M = 1000000L    // dim-key offset unit (cust/supp/part keys)

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$sfDir/$name.parquet")
      (0 until nReplicas).map(k => f(src, k)).reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"SCALE10ALL $name -> " +
        spark.read.parquet(s"$outDir/$name.parquet").count() + " rows")
    }

    replicate("documents") { (df, k) =>
      df.select((col("doc_id") + k * B).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit(s"r${k}x"), t))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }
    replicate("embeddings") { (df, k) =>
      df.select((col("vec_id") + k * B).as("vec_id"),
        transformEmb(col("embedding"), k).as("embedding"), col("label"))
    }
    replicate("lineitem") { (df, k) =>
      df.select((col("l_orderkey") + k * B).as("l_orderkey"),
        (col("l_partkey") + k * M).as("l_partkey"),
        (col("l_suppkey") + k * M).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    replicate("orders") { (df, k) =>
      df.select((col("o_orderkey") + k * B).as("o_orderkey"),
        (col("o_custkey") + k * M).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    replicate("customer") { (df, k) =>
      df.select((col("c_custkey") + k * M).as("c_custkey"), col("c_name"),
        (col("c_nationkey") + k * 25).cast("int").as("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }
    replicate("supplier") { (df, k) =>
      df.select((col("s_suppkey") + k * M).as("s_suppkey"), col("s_name"),
        (col("s_nationkey") + k * 25).cast("int").as("s_nationkey"),
        col("s_acctbal"))
    }
    // events: replica k's users/events are fresh ids on the SAME
    // timeline — a 10× crawl has 10× concurrent users in the same
    // wall-clock window (so windowed-aggregate state grows with the
    // type×window grid, not the replica count, while session/dedup/
    // stateful state grows ∝ users — exactly the split a streaming
    // scale bench needs to witness). ts, type, value, props untouched.
    replicate("events") { (df, k) =>
      df.select((col("event_id") + k * B).as("event_id"), col("ts"),
        (col("user_id") + k * M).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    // nation must replicate WITH the nationkey offset: the graph keys'
    // output-naming join is on n_nationkey, and an unscaled copy would
    // silently drop replicas 1..9 from every output (names salted so
    // orderBy("n_name") stays tie-free)
    replicate("nation") { (df, k) =>
      df.select((col("n_nationkey") + k * 25).cast("int").as("n_nationkey"),
        concat(lit(s"r${k}_"), col("n_name")).as("n_name"),
        col("n_regionkey"))
    }
    spark.stop()
  }
}
