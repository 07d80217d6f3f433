package graft

import graft.functions.Kernels
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property-style tests over seeded random inputs (SURVEY §5.3#2). */
class KernelsSpec extends AnyFunSuite {
  private val rnd = new Random(42)
  private def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 20 - 10)
  private val vocab = Vector("scan", "column", "window", "order", "sort", "agg", "part")
  private def toks(): List[String] = List.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))

  test("cosine is symmetric, bounded, and 1 on itself") {
    for (_ <- 1 to 200) {
      val a = vec(); val b = vec()
      val c = Kernels.cosineArr(a, b)
      assert(math.abs(c - Kernels.cosineArr(b, a)) < 1e-12)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(math.abs(Kernels.cosineArr(a, a) - 1.0) < 1e-9)
    }
  }

  test("jaccard variants agree, are bounded, and are 1.0 iff equal sets") {
    for (_ <- 1 to 500) {
      val a = toks(); val b = toks()
      val sa = a.distinct.sorted; val sb = b.distinct.sorted
      val viaSets = Kernels.jaccardSets(sa, sb)
      val viaSorted = Kernels.jaccardSorted(sa, sb)
      val viaLongs = Kernels.jaccardLongs(
        Kernels.tokenHashes(a).toIndexedSeq, Kernels.tokenHashes(b).toIndexedSeq)
      assert(viaSets >= 0.0 && viaSets <= 1.0)
      assert(math.abs(viaSets - viaSorted) < 1e-12)
      assert(math.abs(viaSets - viaLongs) < 1e-12)
      assert((viaSets == 1.0) == (sa == sb))
    }
  }

  test("minhash bands are deterministic and multiplicity-insensitive") {
    for (_ <- 1 to 200) {
      val a = toks()
      val h = Kernels.tokenHashes(a).toIndexedSeq
      val b1 = Kernels.minhashBands(h, 8, 4)
      assert(Kernels.minhashBands(h, 8, 4).sameElements(b1))
      val h2 = Kernels.tokenHashes(a ++ a).toIndexedSeq
      assert(Kernels.minhashBands(h2, 8, 4).sameElements(b1))
    }
  }

  test("identical sets share every band; disjoint sets share none (w.h.p.)") {
    val a = List("scan", "column", "window", "order")
    val b = List("alpha", "beta", "gamma", "delta")
    val ha = Kernels.tokenHashes(a).toIndexedSeq
    val hb = Kernels.tokenHashes(b).toIndexedSeq
    assert(Kernels.minhashBands(ha, 8, 4).sameElements(Kernels.minhashBands(ha, 8, 4)))
    val shared = Kernels.minhashBands(ha, 8, 4).intersect(Kernels.minhashBands(hb, 8, 4))
    assert(shared.isEmpty)
  }

  test("rolling fingerprint is deterministic and window-sensitive") {
    val t1 = "scan column window order sort part agg"
    assert(Kernels.rollingFingerprint(t1) == Kernels.rollingFingerprint(t1))
    // a shared 8-byte window appearing in both texts can produce the
    // same min-hash; fully distinct byte streams must not
    assert(Kernels.rollingFingerprint(t1) != Kernels.rollingFingerprint("zzz qqq xxx yyy www vvv uuu"))
    assert(Kernels.rollingFingerprint("") == 0L)
    assert(Kernels.rollingFingerprint("short") == Kernels.rollingFingerprint("short"))
  }

  test("sigmoid is bounded and centered") {
    assert(Kernels.sigmoid(0.0) == 0.5)
    assert(Kernels.sigmoid(100.0) > 0.999)
    assert(Kernels.sigmoid(-100.0) < 0.001)
  }

  test("dotW matches naive zip-sum") {
    for (_ <- 1 to 100) {
      val a = vec()
      val w = Array.tabulate(64)(i => math.sin(i + 1.0))
      val expected = a.zip(w).map { case (x, y) => x.toDouble * y }.sum
      assert(math.abs(Kernels.dotW(a, w) - expected) < 1e-9)
    }
  }

  test("FirstEqIndex codegen expression matches a reference loop") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ref(a: Seq[Long], b: Seq[Long]): Int = {
      val n = math.min(a.length, b.length)
      (0 until n).find(i => a(i) == b(i)).map(_ + 1).getOrElse(0)
    }
    val rnd = new Random(11)
    // small value domain so positional agreements actually occur
    def sig() = Seq.fill(rnd.nextInt(20))(rnd.nextInt(4).toLong)
    val rows = Seq.fill(300)((sig(), sig())) :+
      ((Seq.empty[Long], Seq.empty[Long])) :+ ((Seq(5L), Seq(5L, 9L)))
    val got = rows.toDF("a", "b")
      .select(call_function("graft_first_eq", col("a"), col("b"))).as[Int].collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      assert(r == ref(a, b), s"mismatch for $a vs $b")
    }
  }

  test("MinCommonLong codegen expression matches a reference set intersection") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // reference: minimum of the set intersection, MinValue when disjoint
    def ref(a: Seq[Long], b: Seq[Long]): Long = {
      val c = a.toSet.intersect(b.toSet)
      if (c.isEmpty) Long.MinValue else c.min
    }
    val rnd = new Random(17)
    // sorted-ascending inputs (the expression's contract), small value
    // domain so intersections actually occur; negatives included since
    // shingle hashes span the full i64 range
    def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(30).toLong - 15L)
      .distinct.sorted
    val rows = Seq.fill(400)((arr(), arr())) :+
      ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq(Long.MinValue, 3L), Seq(Long.MinValue, 7L))) :+
      ((Seq(-5L, 0L, 2L), Seq(2L)))
    val got = rows.toDF("a", "b")
      .select(call_function("graft_min_common", col("a"), col("b"))).as[Long].collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      assert(r == ref(a, b), s"mismatch for $a vs $b")
    }
    // interpreted (non-codegen) path must agree too
    rows.foreach { case (a, b) =>
      val e = graft.functions.MinCommonLong(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) == ref(a, b), s"interpreted mismatch for $a vs $b")
    }
  }

  test("MaxSimScore codegen expression matches a reference late-interaction loop") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // independent reference: functional Σ_i max_j dot over chunk views
    def ref(a: Seq[Float], b: Seq[Float], m: Int): Double = {
      val sub = math.min(a.length, b.length) / m
      (0 until m).map { i =>
        (0 until m).map { j =>
          (0 until sub).foldLeft(0.0)((acc, t) =>
            acc + a(i * sub + t).toDouble * b(j * sub + t).toDouble)
        }.max
      }.sum
    }
    val rnd = new Random(41)
    def vec(n: Int) = Seq.fill(n)(rnd.nextFloat() * 2f - 1f)
    val rows = Seq.fill(200)((vec(64), vec(64))) :+
      ((vec(10), vec(10))) // truncating sub-dim: 10/4 = 2, tail ignored
    val got = rows.toDF("a", "b")
      .select(call_function("graft_maxsim", col("a"), col("b"), lit(4)))
      .as[Double].collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      assert(r == ref(a, b, 4), "codegen mismatch")
    }
    // interpreted (non-codegen) path must agree too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    rows.take(20).foreach { case (a, b) =>
      val e = graft.functions.MaxSimScore(
        Literal.create(a, ArrayType(FloatType)),
        Literal.create(b, ArrayType(FloatType)), 4)
      assert(e.eval(null) == ref(a, b, 4), "interpreted mismatch")
    }
    // and MaxSim with one facet per vector degenerates to a plain dot
    val (x, y) = (vec(8), vec(8))
    val one = graft.functions.MaxSimScore(
      Literal.create(x, ArrayType(FloatType)),
      Literal.create(y, ArrayType(FloatType)), 1).eval(null)
    assert(one == ref(x, y, 1))
  }

  test("maxSimArr rejects m > min vector length in kernel, codegen and interpreted paths") {
    // m larger than the vectors truncates sub-dim to 0 and previously
    // scored EVERY pair 0.0 silently (r16 ADVICE) — all three
    // execution paths must throw instead
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Kernels.maxSimArr(Array(1f, 2f), Array(3f, 4f), 3)
    }
    val err = intercept[Exception] {
      Seq((Seq(1f, 2f), Seq(3f, 4f))).toDF("a", "b")
        .select(call_function("graft_maxsim", col("a"), col("b"), lit(3)))
        .collect()
    }
    // the root cause surfaces either directly or wrapped by Spark
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(c =>
      Option(c.getMessage).exists(_.contains("graft_maxsim"))))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    intercept[IllegalArgumentException] {
      graft.functions.MaxSimScore(
        Literal.create(Seq(1f, 2f), ArrayType(FloatType)),
        Literal.create(Seq(3f, 4f), ArrayType(FloatType)), 3).eval(null)
    }
    // m == min length is the boundary: one scalar per facet, still legal
    assert(Kernels.maxSimArr(Array(1f, 2f), Array(3f, 4f), 2) ==
      1.0 * 4.0 + 2.0 * 4.0)
  }

  test("ContainmentSim codegen expression matches a reference set containment") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ref(a: Seq[Long], b: Seq[Long]): Double =
      if (a.isEmpty) 1.0
      else a.toSet.intersect(b.toSet).size.toDouble / a.size
    val rnd = new Random(19)
    def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong - 10L)
      .distinct.sorted
    val rows = Seq.fill(400)((arr(), arr())) :+
      ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq.empty[Long], Seq(1L, 2L))) :+
      ((Seq(1L, 2L), Seq.empty[Long])) :+
      ((Seq(3L, 7L), Seq(1L, 3L, 5L, 7L, 9L)))
    val got = rows.toDF("a", "b")
      .select(call_function("graft_containment", col("a"), col("b"))).as[Double].collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      assert(r == ref(a, b), s"mismatch for $a vs $b: $r != ${ref(a, b)}")
    }
    // interpreted (non-codegen) path must agree too
    rows.foreach { case (a, b) =>
      val e = graft.functions.ContainmentSim(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval(null) == ref(a, b), s"interpreted mismatch for $a vs $b")
    }
  }

  test("simhash XOR first-chunk logic agrees with the chunk-array definition") {
    // simhashPairs dedups on "first band whose bit slice of sh1^sh2 is
    // zero"; that must equal the first index where the two chunk
    // arrays (position-tagged) agree — for random hashes and all band
    // widths that divide 64
    val rnd = new Random(13)
    for (_ <- 1 to 500; bands <- Seq(2, 4, 8)) {
      val s1 = rnd.nextLong()
      // flip a few bits of s1 half the time, else fully random
      val s2 = if (rnd.nextBoolean()) s1 ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64))
               else rnd.nextLong()
      val c1 = Kernels.simhashChunks(s1, bands)
      val c2 = Kernels.simhashChunks(s2, bands)
      val viaChunks = c1.zip(c2).indexWhere { case (a, b) => a == b } match {
        case -1 => 0
        case i => i + 1
      }
      val width = 64 / bands
      val mask = if (width == 64) -1L else (1L << width) - 1
      val xor = s1 ^ s2
      val viaXor = (0 until bands)
        .find(b => ((xor >>> (b * width)) & mask) == 0L).map(_ + 1).getOrElse(0)
      assert(viaXor == viaChunks, f"bands=$bands s1=$s1%x s2=$s2%x")
    }
  }

  test("trainCodebook survives inputs smaller than k (one cell per vector)") {
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val cents = graft.api.Similarity.trainCodebook(e, "vec_id", "embedding", k = 16)
    assert(cents.length == 10, s"expected 10 cells for a 10-row input, got ${cents.length}")
    assert(cents.forall(_.length == 64))
  }

  test("trainCodebook's digest-threshold sample equals the plain TakeOrdered sample") {
    // 20k rows > 2·sampleSize forces the admission-filter path (the
    // fixtures are all small enough to clamp frac to 1); the filtered
    // bottom-512 must be IDENTICAL — same vectors, same order — to the
    // unfiltered global TakeOrdered bottom-512 the pre-r10 code ran
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val vecs = spark.range(20000).select(col("id").as("vec_id"),
      array((0 until 8).map(i =>
        sin(col("id") * (i + 1)).cast("float")): _*).as("embedding"))
    val viaFilter = graft.api.Similarity.digestSample(
      vecs, "vec_id", "embedding", sampleSize = 512)
    val plain = vecs
      .select(col("vec_id").cast("string").as("_id"), col("embedding").as("_v"))
      .orderBy(md5(col("_id").cast("binary")), col("_id"))
      .limit(512).select("_v").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    assert(viaFilter.length == 512 && plain.length == 512)
    viaFilter.zip(plain).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"sample diverges at position $i")
    }
  }

  test("JaccardSim codegen expression is bit-identical to the kernel") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(7)
    def set() = Array.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong)
      .distinct.sorted.toSeq
    val rows = Seq.fill(200)((set(), set())) :+
      ((Seq.empty[Long], Seq.empty[Long])) :+ ((Seq(1L, 2L), Seq.empty[Long]))
    val got = rows.toDF("a", "b")
      .select(call_function("graft_jaccard", col("a"), col("b"))).as[Double].collect()
    rows.zip(got).foreach { case ((a, b), j) =>
      assert(j == Kernels.jaccardLongs(a, b), s"mismatch for $a vs $b")
    }
  }
}
