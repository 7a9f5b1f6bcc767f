package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance-confirmed fuzzy dedup — the record-linkage / title-dedup
  * shape: MinHash banding proposes candidates (recall), a normalized
  * Levenshtein similarity verifies (precision), keep-first clustering
  * collapses. Completes the near-dedup family's verification kernels:
  * set overlap (n-gram Jaccard), bit distance (SimHash hamming), float
  * geometry (embedding cosine), and now SEQUENCE distance — the right
  * kernel when near-dups differ by small in-place edits (typo'd titles,
  * version strings, template fields) that leave most shingles intact but
  * where set similarity over- or under-counts reorderings.
  *
  * Verification is Spark's built-in `levenshtein` Column function —
  * codegen'd Catalyst expression, no UDF — computed ONLY on candidate
  * pairs, never as a corpus scan. Similarity is
  * `1 − lev(a,b) / max(|a|,|b|)` (both-empty := 1), an IEEE double
  * division both engines reproduce bit-identically; lengths and the
  * distance itself are integers. NOTE: Spark's levenshtein counts
  * CODEPOINT edits while DuckDB's counts BYTE edits — identical on
  * ASCII corpora (the oracle's documents table is verified ASCII-only;
  * a non-ASCII corpus would need a byte-length normalization to keep
  * the oracle exact, the engine itself is fine either way).
  *
  * Scale shape: identical to [[NgramJaccard.deduplicate]] — docs below
  * `n` tokens are excluded from banding up front (they cannot shingle;
  * byte-identical short docs are exact-dedup's job), candidates are
  * star-shaped per bucket via the streaming bucket-min window, the
  * Levenshtein verify joins texts back on the bounded candidate list
  * ([[MinHashDedup.verifiedCandidates]]), and clustering goes through
  * [[Clustering]]'s driver/distributed crossover. O(len²) per verified pair is paid on candidate
  * pairs only — banding keeps that set near-linear in corpus size.
  */
object EditDistanceDedup {

  /** Normalized Levenshtein similarity of two text columns:
    * `1 − lev / max(len)`, with the both-empty pair defined as 1.0.
    */
  def levSimilarity(a: Column, b: Column): Column = {
    val maxLen = greatest(length(a), length(b))
    when(maxLen === 0, lit(1.0))
      .otherwise(lit(1.0) - levenshtein(a, b).cast("double") / maxLen)
  }

  /** Near-dedup via MinHash candidates + normalized-Levenshtein
    * verification at `threshold`, keep-first.
    */
  def deduplicate(df: DataFrame, column: String, n: Int = 5,
      threshold: Double = 0.8,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)((withId, sink) =>
      verifiedEdges(withId, column, n, threshold, cfg, sink))(_.keep(_))

  /** Levenshtein-verified candidate pairs — the edge list feeding the
    * clustering. `cacheSink` collects the frames the skew probe pins,
    * for entry-point release.
    */
  private[graft] def verifiedEdges(withId: DataFrame, column: String,
      n: Int, threshold: Double, cfg: MinHashConfig,
      cacheSink: Clustering.Sink): DataFrame =
    MinHashDedup.verifiedCandidates(withId, column,
      cfg.copy(ngramSize = n, minNgramSize = n), cacheSink)(
      levSimilarity(_, _) >= threshold)

  /** The (id, band, bsig) frame [[verifiedEdges]] draws its candidates
    * from, over the ids [[Clustering.run]] assigns for `orderCol`: the
    * SQL oracle re-derives bucket-min candidates AND the Levenshtein
    * verify from it (QueriesExtra7).
    */
  private[graft] def bandedFrame(df: DataFrame, column: String, n: Int,
      cfg: MinHashConfig, orderCol: Option[String]): DataFrame =
    MinHashDedup.gatedBanded(Clustering.withIds(df, orderCol), column,
      cfg.copy(ngramSize = n, minNgramSize = n))
}
