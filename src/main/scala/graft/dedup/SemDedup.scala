package graft.dedup

import org.apache.spark.sql.DataFrame

import graft.similarity.Ann

/** SemDeDup-style semantic near-duplicate removal (Abbas et al. 2023,
  * arXiv:2303.09540): k-means-cluster the embedding space, compare
  * cosine only WITHIN each learned cell, drop all but one representative
  * of every above-threshold component. Complements [[EmbeddingDedup]],
  * which blocks on a provided label or random-hyperplane LSH bits: the
  * learned centroids adapt the blocking to the corpus's own density,
  * which is the paper's point — at web scale semantic duplicates
  * concentrate inside k-means cells, so within-cell all-pairs stays
  * tractable when k grows with the corpus (expected pair work
  * ~ n²/k for balanced cells).
  *
  * Keep rule: component MINIMUM id — the repo-wide keep-first
  * semantics (deterministic under any partitioning, oracle-replayable)
  * rather than the paper's farthest-from-centroid representative; the
  * paper reports the representative choice is second-order.
  *
  * Scale shape: Lloyd training runs on a seeded sample with the driver
  * holding k×dim doubles only (see [[Ann.kmeansAssign]]); the final
  * assignment kernel is evaluated once per self-join side — at 100 TB
  * materialize the assigned frame once, bucketed by cell
  * (`Sources.publishBucketed`), so the within-cell join co-locates
  * with no shuffle and the kernel runs exactly once per row.
  */
object SemDedup {

  private[graft] val CellCol = "__sem_cell__"

  /** Above-threshold within-cell cosine pairs over an id-carrying frame
    * — the verified edge list feeding keep-first clustering. Exposed for
    * the invariant specs and the edge-oracled query.
    */
  private[graft] def verifiedEdges(withId: DataFrame, embCol: String,
      k: Int, threshold: Double, iters: Int = 3,
      trainFraction: Double = 1.0): DataFrame = {
    val assigned = Ann.kmeansAssign(withId, embCol, Clustering.IdCol,
      CellCol, k, iters, trainFraction)
    EmbeddingDedup.verifiedEdges(assigned, embCol, CellCol, threshold)
  }

  /** Dedup `df` keeping one row per within-cell cosine component.
    * Clustering goes through [[Clustering]] — driver UnionFind for
    * small edge lists, distributed min-label propagation beyond
    * `maxDriverEdges`.
    */
  def deduplicate(df: DataFrame, embCol: String, k: Int,
      threshold: Double, iters: Int = 3, trainFraction: Double = 1.0,
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)((withId, _) =>
      verifiedEdges(withId, embCol, k, threshold, iters, trainFraction))(
      _.keep(_))
}
