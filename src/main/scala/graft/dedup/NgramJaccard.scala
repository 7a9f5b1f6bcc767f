package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact word-n-gram Jaccard similarity + LSH-accelerated near-dedup:
  * MinHash banding proposes candidates (recall), exact Jaccard verifies
  * (precision) — the classic two-stage shape. All set math is `Column`-only.
  */
object NgramJaccard {

  /** Distinct word n-grams (lowercased `[a-z0-9_]+` words). r19: the
    * fused one-pass kernel (tokenize + gram + distinct in one scan, no
    * interpreted HOFs, no staged word array needed) — element-identical
    * to [[ngramsFromWords]] over the composed tokenizer (AsciiGramsSpec
    * pins the tokenizer and distinct-gram identities; ExtrasSpec's
    * Jaccard goldens run through this path).
    */
  def wordNgrams(c: Column, n: Int): Column =
    graft.text.AsciiGrams.ngramsDistinct(c, n)

  /** N-grams from an already-materialized word-array column. */
  def ngramsFromWords(words: Column, n: Int): Column =
    when(size(words) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n))))))

  /** |A∩B| / |A∪B| over distinct-element arrays; 0 when both empty. */
  def jaccard(a: Column, b: Column): Column = {
    val uni = size(array_union(a, b))
    when(uni === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / uni)
  }

  private val WordRe = java.util.regex.Pattern.compile("[a-z0-9_]+")

  /** Distinct word n-grams as a JVM set — single tokenization pass.
    * Same semantics as [[wordNgrams]] (lowercase `[a-z0-9_]+` words,
    * empty below `n` words).
    */
  def gramSet(s: String, n: Int): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    if (s == null) return out
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    val m = WordRe.matcher(s.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) words += m.group()
    if (words.length < n) return out
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i + n <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** Exact Jaccard of two docs' distinct n-gram sets — the verification
    * kernel. A procedural UDF on purpose: the `Column` HOF version
    * re-evaluates the word split inside the n-gram lambda (Catalyst
    * inlines the staged array), making it O(words²) per side — measured
    * 16 ms/pair vs ~50 µs here. Runs only on candidate pairs, so it is
    * never the scan hot path.
    */
  def jaccardDocs(a: String, b: String, n: Int): Double = {
    val ga = gramSet(a, n)
    val gb = gramSet(b, n)
    val (small, big) = if (ga.size <= gb.size) (ga, gb) else (gb, ga)
    var inter = 0
    val it = small.iterator()
    while (it.hasNext) if (big.contains(it.next())) inter += 1
    val uni = ga.size + gb.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** Near-dedup via MinHash candidates + exact-Jaccard verification at
    * `threshold`, keep-first. More precise than banding alone (LSH false
    * positives are filtered by the exact check). Scale shape: see
    * [[MinHashDedup.verifiedCandidates]]; clustering goes through
    * [[Clustering]] — driver UnionFind for small edge lists, distributed
    * min-label propagation beyond `maxDriverEdges`.
    */
  def deduplicate(df: DataFrame, column: String, n: Int = 5,
      threshold: Double = 0.7,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)((withId, sink) =>
      verifiedEdges(withId, column, n, threshold, cfg, sink))(_.keep(_))

  /** Exact-Jaccard-verified candidate pairs — the edge list feeding the
    * clustering. Exposed for the keep-first invariant specs. The verify
    * is the single-pass JVM kernel [[jaccardDocs]].
    */
  private[graft] def verifiedEdges(withId: DataFrame, column: String,
      n: Int, threshold: Double, cfg: MinHashConfig,
      cacheSink: Clustering.Sink): DataFrame = {
    val jac = udf { (a: String, b: String) => jaccardDocs(a, b, n) }
    MinHashDedup.verifiedCandidates(withId, column,
      sigCfg(n, threshold, cfg), cacheSink)(jac(_, _) >= threshold)
  }

  /** The (id, band, bsig) frame [[verifiedEdges]] draws its candidates
    * from, over the ids [[Clustering.run]] assigns for `orderCol`: the
    * SQL oracle derives bucket-min candidates from it AND re-verifies the
    * exact Jaccard from the corpus (QueriesExtra2.ngramKeepFirstSql; both
    * engines' division is IEEE double, so `>= threshold` agrees
    * bit-for-bit).
    */
  private[graft] def bandedFrame(df: DataFrame, column: String, n: Int,
      threshold: Double, cfg: MinHashConfig,
      orderCol: Option[String]): DataFrame =
    MinHashDedup.gatedBanded(Clustering.withIds(df, orderCol), column,
      sigCfg(n, threshold, cfg))

  private def sigCfg(n: Int, threshold: Double, cfg: MinHashConfig) =
    cfg.copy(ngramSize = n, minNgramSize = n, threshold = threshold)
}
