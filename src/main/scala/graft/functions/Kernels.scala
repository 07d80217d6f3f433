package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Compiled vector/set kernels (SURVEY §4.3).
  *
  * Catalyst higher-order lambdas (`aggregate(zip_with(...))`) allocate
  * per element and defeat codegen — measured 200× slower than a plain
  * JVM loop on the sim_knn workload. These UDFs run primitive `while`
  * loops over the backing float arrays instead; the only boxing is at
  * the UDF boundary (once per row, not per element). At cluster scale
  * the same kernels apply unchanged — they are embarrassingly parallel
  * per row and carry no state.
  *
  * All accumulation is Double (float widened exactly), left-to-right —
  * matching DuckDB's DOUBLE[] list_* functions for oracle parity.
  */
object Kernels {
  /** Unwrap a Seq[Float] UDF argument to its primitive backing array
    * without copying when Spark hands us ArraySeq.ofFloat (the common
    * case for parquet list<float>). */
  @inline private def floats(s: Seq[Float]): Array[Float] = s match {
    case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
    case _ => s.toArray
  }

  def dotArr(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def dotW(a: Array[Float], w: Array[Double]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, w.length)
    while (i < n) { s += a(i).toDouble * w(i); i += 1 }
    s
  }

  def normArr(a: Array[Float]): Double = math.sqrt(dotArr(a, a))

  def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** ColBERT-style late-interaction MaxSim over two float vectors
    * viewed as `m` equal sub-vectors: Σ_i max_j dot(a_i, b_j). Sub-dim
    * = min(len)/m; dots accumulate in double index order, maxes fold
    * in j order, the outer sum in i order — one fixed op sequence, so
    * the value is engine-portable the same way [[cosineArr]] is.
    *
    * Contract: requires 1 <= m <= min(a.length, b.length) — an m
    * larger than the vectors would truncate sub-dim to 0 and silently
    * score every pair 0.0, so it throws instead (mirrored in
    * [[MaxSimScore]]'s generated code). When min(len) is not a
    * multiple of m the trailing min(len) % m elements are IGNORED by
    * design (each side is viewed as its first m·sub components); pad
    * or pick an m dividing the dimension if the tail matters. */
  def maxSimArr(a: Array[Float], b: Array[Float], m: Int): Double = {
    require(m >= 1 && m <= math.min(a.length, b.length),
      s"graft_maxsim: sub-vector count m=$m must be in [1, min(len)=" +
        s"${math.min(a.length, b.length)}] — m > len truncates sub-dim " +
        "to 0 and would silently score every pair 0.0")
    val sub = math.min(a.length, b.length) / m
    var score = 0.0
    var i = 0
    while (i < m) {
      var best = Double.NegativeInfinity
      var j = 0
      while (j < m) {
        var dot = 0.0
        var t = 0
        while (t < sub) {
          dot += a(i * sub + t).toDouble * b(j * sub + t).toDouble
          t += 1
        }
        if (dot > best) best = dot
        j += 1
      }
      score += best
      i += 1
    }
    score
  }

  /** Token-set Jaccard |A∩B| / |A∪B| over pre-distinct token arrays. */
  def jaccardSets(a: Seq[String], b: Seq[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet
    var inter = 0
    val itb = b.iterator
    val seen = new scala.collection.mutable.HashSet[String]
    while (itb.hasNext) { val t = itb.next(); if (seen.add(t) && sa.contains(t)) inter += 1 }
    val union = sa.size + seen.size - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** Jaccard over pre-sorted, pre-distinct token arrays: merge-count
    * intersection, zero allocation per pair. This is the self-join hot
    * path — per-pair set construction measured ~10× slower. */
  def jaccardSorted(a: Seq[String], b: Seq[String]): Double = {
    val na = a.length; val nb = b.length
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union.toDouble
  }

  def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  @inline private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private def longs(s: Seq[Long]): Array[Long] = s match {
    case a: scala.collection.immutable.ArraySeq.ofLong => a.unsafeArray
    case _ => s.toArray
  }

  /** Token set → sorted distinct 64-bit hashes. Computed ONCE per doc;
    * every downstream pair comparison then runs on primitive longs —
    * no per-pair string materialization (measured ~5× on the self-join
    * hot path). Collision prob over a ~30-word vocab is ~2^-55. */
  def tokenHashes(tokens: Seq[String]): Array[Long] = {
    val n = tokens.length
    val arr = new Array[Long](n)
    var i = 0
    val it = tokens.iterator
    while (it.hasNext) {
      // GENUINE 64-bit token identity: two independent-seed murmur32
      // passes packed into one long (then avalanche-mixed). A single
      // 32-bit murmur widened by splitmix64 (a bijection) keeps the
      // collision space at 2^32 — and worse, murmur32's 32-bit
      // INTERNAL state means two prefixes that collide in state make
      // every shared-suffix extension collide too, so structured
      // vocabularies (templated docs, URLs) merge whole token FAMILIES
      // at once: ScaleProbeSpec's 400k corpus hit several full-document
      // J=1.0 false pairs this way. Two seeds give independent states;
      // a family collision now needs both to collide (~2^-64).
      val s = it.next()
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
      arr(i) = splitmix64((h1.toLong << 32) | (h2.toLong & 0xffffffffL))
      i += 1
    }
    java.util.Arrays.sort(arr)
    // in-place dedupe (tokens repeat in bag-of-words text)
    var w = 0; var r = 0
    while (r < n) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    if (w == n) arr else java.util.Arrays.copyOf(arr, w)
  }

  /** Jaccard over sorted distinct hash arrays: primitive merge count. */
  def jaccardLongs(a0: Seq[Long], b0: Seq[Long]): Double = {
    val a = longs(a0); val b = longs(b0)
    val na = a.length; val nb = b.length
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Winnowing-style document fingerprint: polynomial rolling hash
    * over a sliding byte window, fingerprint = min window hash.
    * Deterministic, shift-robust (a shared window anywhere in two docs
    * yields a chance of an identical fingerprint), O(n) single pass. */
  def rollingFingerprint(text: String, window: Int = 8): Long = {
    if (text == null || text.isEmpty) return 0L
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length <= window) return splitmix64(java.util.Arrays.hashCode(bytes).toLong)
    val B = 257L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var minH = splitmix64(h)
    while (i < bytes.length) {
      h = (h - (bytes(i - window) & 0xff) * pow) * B + (bytes(i) & 0xff)
      val m = splitmix64(h)
      if (m < minH) minH = m
      i += 1
    }
    minH
  }

  val rollingFingerprintUdf = udf((t: String) => rollingFingerprint(t))

  /** Indices of the `nprobe` nearest centroids by cosine, best first;
    * ties break toward the lower index (deterministic). */
  def nearestCells(v: Seq[Float], centroids: Array[Array[Float]], nprobe: Int): Array[Int] = {
    val x = floats(v)
    val scored = Array.tabulate(centroids.length)(i => (cosineArr(x, centroids(i)), i))
    scored.sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)
  }

  /** Banded MinHash signature over pre-hashed tokens: `bands` band
    * hashes, each summarizing `rows` min-hash values. Two docs share a
    * (band, hash) bucket with prob 1-(1-j^rows)^bands — the recall/
    * selectivity trade is the CALLER's, set by its (bands, rows):
    * `Dedup.minhashPairs` defaults to bands=16, rows=8, which is
    * ≈0.947 at j=0.8 and ≥0.9996 at j=0.9 (the steeper S-curve that
    * keeps sub-threshold pairs out of the bucket join on duplicate-
    * heavy corpora); bands=16, rows=4 would be ≥0.9997 at j=0.8 but
    * admits 34% of j=0.4 pairs. Deterministic (seeded by index). */
  def minhashBands(hashes: Seq[Long], bands: Int, rows: Int): Array[Long] = {
    val hs = longs(hashes)
    val k = bands * rows
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < hs.length) {
      val h0 = hs(t)
      var i = 0
      while (i < k) {
        val h = splitmix64(h0 ^ (i.toLong * 0xc2b2ae3d27d4eb4fL))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var r = 0
      while (r < rows) { acc = splitmix64(acc ^ sig(b * rows + r)); r += 1 }
      out(b) = acc
      b += 1
    }
    out
  }

  /** 64-bit SimHash over pre-hashed tokens: per-bit majority vote of
    * the token hashes. Near-identical token sets differ in few bits, so
    * near-dup detection becomes a Hamming-distance test on one i64 per
    * doc — constant state per row, trivially shuffle-able at 100 TB. */
  def simhash64(hashes: Seq[Long]): Long = {
    val hs = longs(hashes)
    val acc = new Array[Int](64)
    var t = 0
    while (t < hs.length) {
      val h = hs(t)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Split a SimHash into `bands` equal bit-chunks (band index encoded
    * in the high bits so distinct bands never collide across positions).
    * Pigeonhole: two hashes within Hamming distance < bands share at
    * least one identical band → a bucket-join on (band, chunk) finds
    * every such pair with zero false negatives. */
  def simhashChunks(sh: Long, bands: Int): Array[Long] = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    Array.tabulate(bands)(b => (b.toLong << 58) | ((sh >>> (b * width)) & mask))
  }

  /** Character n-gram set → sorted distinct 64-bit hashes (the shingle
    * step of n-gram Jaccard / MinHash dedup). One pass over the string;
    * downstream pair comparisons run on primitive longs. Shingles are
    * formed over Unicode CODE POINTS (not UTF-16 units) so non-BMP text
    * (surrogate pairs) shingles the same way SQL engines' substr does;
    * sub-n-codepoint docs yield the empty set (callers treat J(∅,·)=0). */
  def charNgramHashes(text: String, n: Int): Array[Long] = {
    if (text == null || text.isEmpty) return Array.emptyLongArray
    val cps = text.codePoints().toArray
    val m = cps.length - n + 1
    if (m <= 0) return Array.emptyLongArray
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) { h = h * 1099511628211L + cps(i + j); j += 1 }
      arr(i) = splitmix64(h)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0; var r = 0
    while (r < m) {
      if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    if (w == m) arr else java.util.Arrays.copyOf(arr, w)
  }

  // ---- Product quantization (PQ) kernels ----
  // books layout: [subspace m][sub-centroid ks][sub-dim dsub]; a 64-d
  // vector with m=8 splits into 8 consecutive 8-d blocks. All loops are
  // index-based on primitive arrays (no boxing in the hot path).

  /** x − cent: the IVF RESIDUAL the composed IVF-PQ path encodes —
    * quantizing residuals instead of raw vectors is what preserves
    * WITHIN-cell resolution on clustered corpora (raw codes collapse
    * when a cell's members share a centroid: measured 0.10 recall@5 on
    * a tight 64-cluster 100k corpus vs 1.00 for plain IVF, r18). */
  def residual(v: Seq[Float], cent: Array[Float]): Array[Float] = {
    val x = floats(v)
    require(x.length == cent.length,
      s"residual: vector length ${x.length} != centroid length ${cent.length}")
    val r = new Array[Float](x.length)
    var i = 0
    while (i < x.length) { r(i) = x(i) - cent(i); i += 1 }
    r
  }

  /** dot(v, cent) in double — the per-(query, probed-cell) additive
    * ADC term q·c of the residual decomposition q·x̂ = q·c + q·r̂. */
  def dotCent(v: Seq[Float], cent: Array[Float]): Double = {
    val x = floats(v)
    require(x.length == cent.length,
      s"dotCent: vector length ${x.length} != centroid length ${cent.length}")
    var dp = 0.0; var i = 0
    while (i < x.length) { dp += x(i).toDouble * cent(i); i += 1 }
    dp
  }

  /** PQ-encode: per subspace, the index of the L2-NEAREST sub-centroid
    * (ties → lower index). L2, not cosine: subvector magnitudes carry
    * dot-product mass, so the assignment must minimize ‖x_j − c‖², or
    * the ADC reconstruction error grows with vector norm spread. */
  def pqEncode(v: Seq[Float], books: Array[Array[Array[Float]]]): Array[Int] = {
    val x = floats(v)
    val m = books.length
    val dsub = if (m == 0) 0 else books(0)(0).length
    require(x.length == m * dsub,
      s"pqEncode: vector length ${x.length} != m*dsub = ${m * dsub}")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val off = j * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d2 = 0.0; var i = 0
        while (i < dsub) {
          val diff = x(off + i).toDouble - cent(i); d2 += diff * diff; i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Query-side ADC lookup table, flattened [m*ks]: entry j*ks + c is
    * dot(q_j, books(j)(c)). Built ONCE per query; after it every
    * candidate costs m table lookups instead of d multiply-adds. */
  def pqLut(q: Seq[Float], books: Array[Array[Array[Float]]]): Array[Double] = {
    val x = floats(q)
    val m = books.length
    val ks = if (m == 0) 0 else books(0).length
    val dsub = if (m == 0) 0 else books(0)(0).length
    require(x.length == m * dsub,
      s"pqLut: query length ${x.length} != m*dsub = ${m * dsub}")
    val lut = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      val book = books(j)
      val off = j * dsub
      var c = 0
      while (c < ks) {
        val cent = book(c)
        var dp = 0.0; var i = 0
        while (i < dsub) { dp += x(off + i).toDouble * cent(i); i += 1 }
        lut(j * ks + c) = dp
        c += 1
      }
      j += 1
    }
    lut
  }

  /** ADC approximate dot product: Σ_j lut(j*ks + codes(j)) — exactly
    * dot(q, x̂) for the reconstruction x̂ (same per-subspace partial
    * sums, added in the same j order, so it is BITWISE equal to
    * summing dot(q_j, x̂_j) over j; pinned in PqSpec). */
  def adcDot(codes: Seq[Int], lut: Seq[Double], ks: Int): Double = {
    val cs = codes match {
      case w: scala.collection.immutable.ArraySeq.ofInt => w.unsafeArray
      case _ => codes.toArray
    }
    val lt = lut match {
      case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
      case _ => lut.toArray
    }
    var s = 0.0; var j = 0
    while (j < cs.length) { s += lt(j * ks + cs(j)); j += 1 }
    s
  }

  /** Reconstruct x̂ from PQ codes (concatenated sub-centroids). */
  def pqReconstruct(codes: Seq[Int], books: Array[Array[Array[Float]]]): Array[Float] = {
    val m = books.length
    val dsub = if (m == 0) 0 else books(0)(0).length
    val out = new Array[Float](m * dsub)
    var j = 0
    while (j < m) {
      System.arraycopy(books(j)(codes(j)), 0, out, j * dsub, dsub)
      j += 1
    }
    out
  }

  // ---- Column-level wrappers (compiled Scala UDFs, not SQL lambdas) ----
  /** Cosine between a row vector and a codebook entry (cell math). */
  def cosineWith(v: Seq[Float], c: Array[Float]): Double = cosineArr(floats(v), c)

  val normUdf = udf((a: Seq[Float]) => normArr(floats(a)))
  val tokenHashesUdf = udf((toks: Seq[String]) => tokenHashes(toks))
  def minhashBandsUdf(bands: Int, rows: Int) =
    udf((hashes: Seq[Long]) => minhashBands(hashes, bands, rows))
  val simhashUdf = udf((hashes: Seq[Long]) => simhash64(hashes))
  val hammingUdf = udf((a: Long, b: Long) => hamming64(a, b))
  def simhashChunksUdf(bands: Int) = udf((sh: Long) => simhashChunks(sh, bands))
  def charNgramHashesUdf(n: Int) = udf((t: String) => charNgramHashes(t, n))

  def l2norm(a: Column): Column = normUdf(a)

  /** σ(w·x) against a fixed weight vector captured in the closure (the
    * reference's broadcast-weights forward pass; at cluster scale the
    * closure ships once per task via the task binary — for big models
    * use an explicit Broadcast handle instead). */
  def linearScoreUdf(w: Array[Double]) =
    udf((x: Seq[Float]) => sigmoid(dotW(floats(x), w)))

  /** Logits → (first-argmax class, softmax probability of that class),
    * the scalar tail shared by the per-row UDF and the batched dgemm
    * multiclass paths so both compute IDENTICAL math after the dots.
    * p_max = 1 / Σ_c exp(l_c − l_max) (max-subtracted, overflow-safe);
    * ties resolve to the FIRST max index — the same semantics as
    * DuckDB's list_indexof(logits, list_max(logits)). */
  def multiclassFromLogits(l: Array[Double]): (Long, Double) = {
    var best = 0
    var i = 1
    while (i < l.length) { if (l(i) > l(best)) best = i; i += 1 }
    var s = 0.0
    i = 0
    while (i < l.length) { s += math.exp(l(i) - l(best)); i += 1 }
    (best.toLong, 1.0 / s)
  }

  /** k-class forward pass per row against a fixed weight matrix (one
    * dot per class, then [[multiclassFromLogits]]). */
  def multiclassScoreUdf(w: Array[Array[Double]]) =
    udf((x: Seq[Float]) => {
      val xv = floats(x)
      multiclassFromLogits(Array.tabulate(w.length)(c => dotW(xv, w(c))))
    })

  /** Hidden layer of the 2-layer MLP: h_j = relu(W1_j·x + b1_j),
    * ascending-index sequential accumulation — the same op order as
    * DuckDB's list_dot_product, so the UDF path and the SQL oracle
    * compute bit-identical hiddens. */
  def mlpHidden(x: Array[Float], w1: Array[Array[Double]],
      b1: Array[Double]): Array[Double] =
    Array.tabulate(w1.length)(j => math.max(0.0, dotW(x, w1(j)) + b1(j)))

  /** Output layer: logits_c = W2_c·h + b2_c, same sequential order. */
  def mlpLogits(h: Array[Double], w2: Array[Array[Double]],
      b2: Array[Double]): Array[Double] =
    Array.tabulate(w2.length) { c =>
      val wc = w2(c)
      var s = 0.0
      var j = 0; while (j < h.length) { s += wc(j) * h(j); j += 1 }
      s + b2(c)
    }

  /** 2-layer MLP forward per row: relu hidden → logits →
    * [[multiclassFromLogits]] — the stacked net.forward() shape. */
  def mlpScoreUdf(w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double]) =
    udf((x: Seq[Float]) =>
      multiclassFromLogits(mlpLogits(mlpHidden(floats(x), w1, b1), w2, b2)))
}
